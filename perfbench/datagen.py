"""Seeded input tables for the engine benchmark.

Writes the ten catalog tables (``engine.TABLES``) as one parquet file
each, with the fixture file names and the Arrow schemas the fixture
footers carry (every timestamp column is stored as ``timestamp[us]``;
test_perfbench.py compares the two).  The benchmark reads nothing
outside its checkout, so the rows are generated here rather than copied
from the fixtures.  Table *contents* come from a fixed content seed, so
every benchmark seed sees the same multiset of rows and the DuckDB
answers do not depend on the seed; the benchmark seed permutes the row
order of every table.  The large tables (lineitem, orders, events,
documents) are cut into ``2 * nproc`` row groups so that their row
groups can be spread over ``nproc`` Spark tasks.

Generated sets are cached under ``perfbench/.data`` keyed by scale,
seed, row-group count and a checksum of this file, and only the most
recent few are kept.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
CACHE_KEEP = 4
SPLIT_TABLES = ("lineitem", "orders", "events", "documents")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: tuple, last: tuple, n: int) -> pa.Array:
    lo = _epoch_us(*first) // _US_PER_DAY
    hi = _epoch_us(*last) // _US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (the fixture sizes: lineitem 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents of 10 to 100 words."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def content(sf: float) -> dict[str, pa.Table]:
    """Every table at scale ``sf``, in key order (seed-independent)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = row_counts(sf)
    nation = np.arange(25)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in nation]),
                "n_regionkey": pa.array(nation % 5, pa.int32()),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": _pick(rng, names, p),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, P_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), o),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), li),
            "l_linestatus": _pick(rng, ("F", "O"), li),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), li),
        }
    )
    e = n["events"]
    t0 = _epoch_us(2024, 1, 1)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, e)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), e), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """The same rows in a seed-dependent order."""
    rng = np.random.default_rng(seed)
    return {name: tab.take(rng.permutation(tab.num_rows)) for name, tab in tables.items()}


def write(tables: dict[str, pa.Table], out_dir: str, row_groups: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        groups = row_groups if name in SPLIT_TABLES else 1
        size = max(1, -(-tab.num_rows // groups))
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), row_group_size=size)


def _source_checksum() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def dataset(cache_root: str, sf: float, seed: int, nproc: int) -> str:
    """Directory holding the seeded tables at ``sf``; generated on a miss."""
    row_groups = 2 * max(1, nproc)
    key = f"sf{sf:g}-seed{seed}-rg{row_groups}-{_source_checksum()}"
    out = os.path.join(cache_root, key)
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    write(permute(content(sf), seed), out, row_groups)
    open(done, "w").close()
    _evict(cache_root, keep=CACHE_KEEP)
    return out


def _evict(cache_root: str, keep: int) -> None:
    entries = [os.path.join(cache_root, d) for d in os.listdir(cache_root)]
    entries = sorted((d for d in entries if os.path.isdir(d)), key=os.path.getmtime)
    for stale in entries[:-keep]:
        shutil.rmtree(stale, ignore_errors=True)
