"""Similarity-search library tests: exact kNN vs numpy, LSH recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark.similarity import top_k_neighbors
from prestodb_presto_spark.similarity.lsh import lsh_candidate_pairs
from tests.conftest import SF_SMALL, SF_TINY


def _emb(spark):
    return spark.read.parquet(f"{SF_TINY}/embeddings.parquet")


def test_top_k_matches_numpy(spark):
    emb = _emb(spark)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    # same quantization as the Spark path so argmax ties agree
    mat = np.round(np.array([r.embedding for r in rows], dtype=np.float64) * 1000)
    norms = np.sqrt((mat * mat).sum(axis=1))
    queries = emb.filter(F.col("vec_id") < 5)
    got = top_k_neighbors(emb, queries, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    for qid, lst in by_q.items():
        lst.sort()
        qi = np.where(ids == qid)[0][0]
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        cos[qi] = -2  # exclude self
        order = np.lexsort((ids, -cos))[:3]
        assert [n for _, n, _ in lst] == [int(ids[i]) for i in order]
        for (_, _, c), i in zip(lst, order):
            assert abs(c - cos[i]) < 1e-9


def test_lsh_buckets_nontrivial_and_recall(spark):
    emb = _emb(spark)
    cands = lsh_candidate_pairs(emb)
    n_pairs = cands.count()
    n = emb.count()
    # buckets must actually partition the space (not all-in-one, not empty)
    assert 0 < n_pairs < n * (n - 1) / 4


def test_lsh_pairs_each_vector_with_its_copy(spark):
    """Each sf0.01 embedding sits alone in its bucket, so the embeddings
    plus a copy with ids shifted by 10,000 pair exactly (i, i + 10000),
    on the capped grouped path and on the uncapped self-join alike."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    both = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    want = {(i, i + 10000) for i in ids}
    assert len(want) == 500
    for cap in (200, None, 3):
        got = lsh_candidate_pairs(both, bucket_cap=cap).collect()
        assert len(got) == 500, cap
        assert {(r.id_a, r.id_b) for r in got} == want, cap


def test_similarity_lsh_hot_bucket_cap(spark):
    """All-identical embeddings collapse into one bucket; the cap bounds
    the bucket-local self-join at O(cap*n) (here: drops it entirely)."""
    from prestodb_presto_spark.similarity.lsh import lsh_candidate_pairs as pairs

    n = 300
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), i -> cast(0.5 as double))").alias("embedding"),
    )
    assert pairs(emb, bucket_cap=50).count() == 0
    assert pairs(emb, bucket_cap=None).count() == n * (n - 1) // 2


def test_banded_lsh_recall_on_planted_near_dups(spark):
    """Plant true near-duplicates (tiny perturbations of base vectors,
    cosine > 0.99) among random vectors: banded LSH must recover nearly
    all of them as candidates, and embedding_near_dups must dedup each
    dup onto its base."""
    from prestodb_presto_spark.similarity.lsh import (
        banded_candidate_pairs,
        embedding_near_dups,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 32))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # ids 1000+i: near-dup of i (relative noise ~0.3%)
        rows.append((1000 + i, [float(x) for x in v + rng.normal(scale=0.003, size=32)]))
    for j in range(200):  # unrelated fillers
        rows.append((5000 + j, [float(x) for x in rng.normal(size=32)]))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    cands = {(r.id_a, r.id_b) for r in banded_candidate_pairs(emb).collect()}
    found = sum((i, 1000 + i) in cands for i in range(40))
    assert found >= 36  # ≥90% recall on cosine≈0.999 pairs

    dups = {r.dup_id: r.kept_id for r in embedding_near_dups(emb, 0.99).collect()}
    assert len(dups) >= 36
    assert all(k == d - 1000 for d, k in dups.items())


def test_ivf_recall_vs_exact_top1(spark):
    """IVF with 4 of 16 probes must agree with exact brute-force top-1
    for most queries (here: the fixture corpus), and every returned
    neighbor must be a real vector with correctly computed cosine."""
    from prestodb_presto_spark.similarity.ivf import ivf_search_top1

    emb = _emb(spark)
    got = {r.query_id: (r.neighbor_id, r.cosine) for r in
           ivf_search_top1(emb, F.col("vec_id") < 20).collect()}
    assert set(got) == set(range(20))

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.round(np.array([r.embedding for r in rows], dtype=np.float64) * 1000)
    norms = np.sqrt((mat * mat).sum(axis=1))
    hits = 0
    for qid, (nid, cos) in got.items():
        qi = np.where(ids == qid)[0][0]
        ni = np.where(ids == nid)[0][0]
        exact_cos = (mat @ mat[qi]) / (norms * norms[qi])
        exact_cos[qi] = -2
        assert abs(cos - exact_cos[ni]) < 1e-6  # reported cosine is honest
        if nid == int(ids[np.lexsort((ids, -exact_cos))[0]]):
            hits += 1
    assert hits >= 14  # ≥70% recall@1 with nprobe/K = 1/4


def test_ivf_probe_bound_limits_candidates(spark):
    """nprobe=K degenerates to exact search over all cells — recall 100%;
    this pins the IVF structure (fewer probes can only shrink the
    candidate set, never add to it)."""
    from prestodb_presto_spark.similarity.ivf import ivf_search_top1
    from prestodb_presto_spark.similarity.knn import top_k_neighbors

    emb = _emb(spark)
    full = {(r.query_id, r.neighbor_id) for r in
            ivf_search_top1(emb, F.col("vec_id") < 10, n_probe=16).collect()}
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in
             top_k_neighbors(emb, queries, k=1).collect()}
    assert full == exact


def test_ivf_oversized_query_batch_raises(spark, monkeypatch):
    """The probe table broadcasts (queries x n_probe); an oversized query
    batch must fail loudly, not over-broadcast (r4 advice + verdict #7)."""
    import prestodb_presto_spark.similarity.ivf as ivf_mod

    emb = _emb(spark)
    monkeypatch.setattr(ivf_mod, "MAX_PROBE_QUERIES", 5)
    with pytest.raises(ValueError, match="ivf_search_top1"):
        ivf_mod.ivf_search_top1(emb, F.col("vec_id") < 20).collect()


def test_ivf_struct_keys_handle_large_ids(spark):
    """Argmax/tie-break keys are (cos, -id) structs — exact for ids far
    beyond the old arithmetic-key bounds (cid<100, vec_id<100000)."""
    from prestodb_presto_spark.similarity.ivf import ivf_search_top1

    emb = _emb(spark).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000_000)
    )
    got = ivf_search_top1(emb, F.col("vec_id") < 10_000_000_020).collect()
    assert len(got) == 20
    for r in got:
        assert r.neighbor_id >= 10_000_000_000 and r.neighbor_id != r.query_id


def test_pq_adc_recall_against_exact(spark):
    """ADC distances approximate true distances: the PQ top-3 per query
    must overlap the exact top-10 (sanity recall on the tiny fixture),
    and codes must be valid centroid ids."""
    from tests.conftest import SF_TINY

    from pyspark.sql import functions as F
    from prestodb_presto_spark.queries.similarity_q import similarity_pq_adc
    from prestodb_presto_spark.queries.util import t
    from prestodb_presto_spark.similarity.knn import dot_sql, quantized_sql

    pq = similarity_pq_adc(spark, SF_TINY).collect()
    assert all(1 <= r["rn"] <= 3 and r["adc_d2"] >= 0 for r in pq)

    emb = t(spark, SF_TINY, "embeddings").select("vec_id", F.expr(quantized_sql()).alias("q"))
    a = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    b = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"))
    d2 = F.expr(f"{dot_sql('qa', 'qa')} + {dot_sql('qb', 'qb')} - 2 * {dot_sql('qa', 'qb')}")
    exact = (
        a.join(b, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .collect()
    )
    top10 = {}
    for r in sorted(exact, key=lambda r: (r["query_id"], r["d2"], r["neighbor_id"])):
        top10.setdefault(r["query_id"], [])
        if len(top10[r["query_id"]]) < 10:
            top10[r["query_id"]].append(r["neighbor_id"])
    hits = sum(1 for r in pq if r["neighbor_id"] in top10[r["query_id"]])
    # compression loses precision but not the neighborhood: at least
    # a third of the PQ picks must be in the exact top-10
    assert hits >= len(pq) / 3, (hits, len(pq))


def test_mmr_matches_independent_greedy_and_diversifies(spark):
    """similarity_mmr_diversify must equal an independent Python greedy
    MMR over the same quantized vectors, and must diverge from plain
    relevance top-3 on at least one query (diversity has teeth)."""
    import math

    from prestodb_presto_spark.queries.similarity_q import (
        _MMR_NQ,
        _MMR_POOL,
        similarity_mmr_diversify,
    )

    sf = "/root/testdata/sf0.001"
    got = {}
    for r in similarity_mmr_diversify(spark, sf).collect():
        got.setdefault(r.query_id, []).append(r.vec_id)

    emb = {
        r.vec_id: [round(float(x) * 1000) for x in r.embedding]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(emb[a], emb[b]))
        na = sum(x * x for x in emb[a])
        nb = sum(x * x for x in emb[b])
        return d / math.sqrt(na) / math.sqrt(nb)

    diverged = False
    for qid in range(_MMR_NQ):
        cands = sorted(
            (v for v in emb if v >= _MMR_NQ),
            key=lambda v: (-round(cos(qid, v) * 1e12), v),
        )[:_MMR_POOL]
        rel_top3 = cands[:3]
        sel = [cands[0]]
        for _ in range(2):
            # struct-key semantics: max score key, min id on ties —
            # exact for unbounded ids (round-11 widening)
            best = max(
                (v for v in cands if v not in sel),
                key=lambda v: (
                    round((cos(qid, v) - max(cos(v, s) for s in sel)) * 1e12),
                    -v,
                ),
            )
            sel.append(best)
        assert got[qid] == sel, f"query {qid}: {got[qid]} != {sel}"
        diverged = diverged or sel != rel_top3
    assert diverged


def test_persisted_ivf_index_roundtrip(spark):
    """write_ivf_index → spark.table → ivf_search_top1_indexed must
    (a) reproduce the in-query search exactly, (b) read the STORED
    index tables (plan-asserted)."""
    from pyspark.sql import functions as F

    from prestodb_presto_spark.similarity.ivf import (
        ivf_search_top1,
        ivf_search_top1_indexed,
        write_ivf_index,
    )
    from prestodb_presto_spark.sources.io import drop_table

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    drop_table(spark, "t_ivf_idx")
    drop_table(spark, "t_ivf_idx_centroids")
    write_ivf_index(emb, "t_ivf_idx")
    out = ivf_search_top1_indexed(
        spark.table("t_ivf_idx"),
        spark.table("t_ivf_idx_centroids"),
        F.col("vec_id") < 20,
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "t_ivf_idx" in plan
    expect = {tuple(r) for r in ivf_search_top1(emb, F.col("vec_id") < 20).collect()}
    got = {tuple(r) for r in out.collect()}
    assert got == expect and len(got) > 0
    drop_table(spark, "t_ivf_idx")
    drop_table(spark, "t_ivf_idx_centroids")
