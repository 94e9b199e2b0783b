#!/usr/bin/env python3
"""Scale smoke — run the heavy operators on 10x the bench data (TPC-H
sf1 via DuckDB's dbgen, ~6M lineitem rows) and report wall time vs the
sf0.1 bench numbers.  Near-linear scaling here is the local evidence
for the 100 TB posture claims (partial aggregation, broadcast-only
dims, candidate-bounded LSH).  Each query runs its own plan to the end
(``ddl.executed_operators``, as the noop sink would), and the line also
reports its largest broadcast, rows and bytes, from the executed plan:
a broadcast that grows with the fact table shows up here first.

Usage: SPARK_GRAFT_CPUS=32 python tools/scale_smoke.py [sf] [out_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "tpch_q01", "tpch_q03", "tpch_q05", "tpch_q09", "tpch_q13",
    "tpch_q18", "tpch_q21", "join_semi", "agg_multi_distinct",
    "window_topn_per_group", "agg_checksum", "agg_sketch_rollup_twolevel",
    # round-10 additions: the heaviest LLM-pipeline plans get the same
    # sublinear-scaling receipt as the relational set (documents /
    # embeddings are replicated 10x-per-sf-unit by build(), so dup
    # clusters and candidate pools scale with the corpus)
    "dedup_spans_strip", "similarity_bitext_mine", "dedup_incremental",
    # round 11: the checkpoint-backed hot-bucket guard (operators/skew)
    # gets its own scale receipt — band rows materialize once per query
    "dedup_minhash_lsh",
]

FIXTURE_SF01 = "/root/testdata/sf0.1"


def build_docs(sf: float, out_dir: str) -> None:
    """documents/embeddings at scale, round(sf/0.1) replicas of the
    sf0.1 fixture: replica 0 verbatim, replicas 1-9 near-dup variants
    (token suffix — so dup CLUSTERS cap at 10 members and the dup RATE
    stays realistic as sf grows), replicas >= 10 fresh word-soup from
    the fixture vocabulary (distinct content, same length profile).
    Embeddings get per-replica additive jitter (bounded cosine
    clusters)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_rep = max(1, round(sf / 0.1))
    base = pq.read_table(f"{FIXTURE_SF01}/documents.parquet")
    ids = np.array(base["doc_id"].to_pylist())
    texts = base["text"].to_pylist()
    langs = base["lang"].to_pylist()
    sources = base["source"].to_pylist()
    vocab = sorted({w for t in texts[:500] for w in t.split()})
    lens = [len(t.split()) for t in texts]
    parts = []
    for k in range(n_rep):
        if k == 0:
            tk = texts
        elif k < 10:
            tk = [t + f" replica marker r{k}" for t in texts]
        else:
            rng = np.random.RandomState(1000 + k)
            tk = [
                " ".join(rng.choice(vocab, size=max(n, 3)))
                for n in lens
            ]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(ids + k * len(ids), type=pa.int64()),
                    "text": pa.array(tk),
                    "lang": pa.array(langs),
                    "source": pa.array(sources),
                    "n_chars": pa.array([len(t) for t in tk], type=pa.int64()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/documents.parquet")
    ebase = pq.read_table(f"{FIXTURE_SF01}/embeddings.parquet")
    vecs = np.array(ebase["embedding"].to_pylist(), dtype=np.float32)
    labels = np.array(ebase["label"].to_pylist())
    vids = np.array(ebase["vec_id"].to_pylist())
    rng = np.random.RandomState(42)
    pattern = rng.standard_normal(vecs.shape[1]).astype(np.float32)
    eparts = []
    for k in range(n_rep):
        if k < 10:
            vk = vecs + 0.01 * k * pattern  # near-dup jitter, clusters cap at 10
        else:
            rk = np.random.RandomState(2000 + k)
            vk = rk.standard_normal(vecs.shape).astype(np.float32)
        eparts.append(
            pa.table(
                {
                    "vec_id": pa.array(vids + k * len(vids), type=pa.int64()),
                    "embedding": pa.array(list(vk), type=pa.list_(pa.float32())),
                    "label": pa.array(labels, type=pa.int32()),
                }
            )
        )
    pq.write_table(pa.concat_tables(eparts), f"{out_dir}/embeddings.parquet")


def build(sf: float, out_dir: str) -> str:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, ".complete")
    if os.path.exists(marker):
        return out_dir
    con = duckdb.connect()
    con.execute("LOAD tpch")
    con.execute(f"CALL dbgen(sf={sf})")
    # project onto the fixture schema (prefixed names already match);
    # keep only fixture columns so every catalog query runs unchanged
    fixture_cols = {
        "region": "r_regionkey, r_name",
        "nation": "n_nationkey, n_name, n_regionkey",
        "customer": "c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal",
        "supplier": "s_suppkey, s_name, s_nationkey, s_acctbal",
        "part": "p_partkey, p_name, p_brand, p_type, p_size, p_retailprice",
        "orders": "o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
                  " CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority",
        "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber,"
                    " CAST(l_quantity AS DOUBLE) AS l_quantity,"
                    " CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,"
                    " CAST(l_discount AS DOUBLE) AS l_discount,"
                    " CAST(l_tax AS DOUBLE) AS l_tax,"
                    " l_returnflag, l_linestatus,"
                    " CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
    }
    for name, proj in fixture_cols.items():
        con.execute(
            f"COPY (SELECT {proj} FROM {name}) TO '{out_dir}/{name}.parquet'"
            " (FORMAT PARQUET)"
        )
    con.close()
    build_docs(sf, out_dir)
    open(marker, "w").write("ok")
    return out_dir


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out_dir = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/spark_graft_scale_sf{sf}"
    build(sf, out_dir)

    from prestodb_presto_spark.ddl import executed_operators
    from prestodb_presto_spark.queries import load_all
    from prestodb_presto_spark.session import get_spark

    spark = get_spark("scale-smoke")
    specs = load_all()
    times, broadcasts = {}, {}
    for name in QUERIES:
        t0 = time.time()
        ops = executed_operators(specs[name].spark_fn(spark, out_dir))
        times[name] = round(time.time() - t0, 3)
        rows, size = max(
            ((m.get("numOutputRows", 0), m.get("dataSize", 0))
             for _, op, m in ops if op == "BroadcastExchange"),
            default=(0, 0),
        )
        broadcasts[name] = {"rows": rows, "bytes": size}
        print(f"# {name}: {times[name]}s, largest broadcast {rows} rows, {size} bytes", flush=True)
    print(json.dumps({
        "sf": sf, "total": round(sum(times.values()), 3), "queries": times,
        "largest_broadcast": broadcasts,
    }))


if __name__ == "__main__":
    main()
