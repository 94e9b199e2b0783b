"""Shared helpers for the query catalog.

Determinism rules for the differential (hash-match) oracle
-----------------------------------------------------------
The driver compares Spark vs DuckDB by order-insensitive value hash, so
every output cell must be bit-identical across engines:

1. Sums of money-like doubles: cast each addend to DECIMAL(18,2) first.
   Decimal addition is exact and order-independent, so partial-aggregate
   merge order (Spark) vs streaming order (DuckDB) cannot diverge.  Cast
   the final aggregate back to DOUBLE for a simple, engine-neutral schema.
2. Averages: exact decimal SUM divided by COUNT in double — one IEEE
   division of identical operands is deterministic.
3. Never emit raw nanosecond timestamps (Spark truncates parquet ns to
   micros); emit unix seconds (BIGINT) or DATE instead.
4. Approximate functions (approx_count_distinct, approx_percentile,
   minhash) can't hash-match a different implementation — emit a BOOLEAN
   "within tolerance of exact" check instead, whose oracle is `true`.
5. Top-k must have a total order: always add a unique tiebreaker key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Session-scoped RELATION cache (r13, guide §7.3 driver-side work): each
# ``spark.read.parquet(path)`` resolution re-lists the path and re-reads
# the parquet footer as its own tiny driver job — for a 6-table join that
# is 6 metadata jobs per query run before any data moves.  Re-using the
# resolved DataFrame per (session, path) skips that, exactly like a
# metastore-backed catalog table does: only schema/file-listing metadata
# is reused, never data or results (every action still scans parquet).
# Keyed by the session object id and cleared when the session changes, so
# a stopped/replaced SparkSession cannot leak stale relations.  The
# fixture tables under testdata are immutable; mutable engine tables go
# through sources/io + the engine catalog, not this helper.
_RELATIONS: dict[tuple[int, str], DataFrame] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (resolution cached per session+path).

    events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read it as raw nanos (legacy conf, runtime-settable)
    and floor-truncate to a microsecond TIMESTAMP — matching what DuckDB's
    native ns timestamp yields for every sub-second-insensitive operation.
    """
    key = (id(spark), f"{sf_dir}/{name}.parquet")
    cached = _RELATIONS.get(key)
    if cached is not None:
        try:
            # a stopped session leaves a dead JVM handle behind the same
            # Python object id a new session may reuse — probe cheaply
            if cached.sparkSession is spark and not spark.sparkContext._jsc.sc().isStopped():
                return cached
        except Exception:
            pass
        _RELATIONS.pop(key, None)
    # r14 (ADVICE): entries of OTHER sessions are never re-probed via their
    # own key once that session dies (the cached DataFrame keeps the old
    # session object alive, so ids never recur) — sweep any key not owned
    # by the current live session on every miss, bounding the cache to one
    # session's relations instead of growing per session restart.
    for stale in [k for k in _RELATIONS if k[0] != id(spark)]:
        _RELATIONS.pop(stale, None)
    if name == "events":
        # Older Sparks need the legacy conf to read ns at all (as raw longs);
        # Spark ≥4.1 ignores it and reads TIMESTAMP(NANOS) as timestamp_ntz,
        # floor-truncated to micros.  Normalize both to a micros TIMESTAMP.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _RELATIONS[key] = df
    return df


def dec(col: str | Column, scale: int = 2) -> Column:
    """Cast a double column to an exact decimal for order-independent sums."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Deterministic SUM over doubles: decimal-sum, emitted as DOUBLE."""
    return F.sum(dec(col, scale)).cast("double")


def jarr(col: Column, sep: str = "|") -> Column:
    """Serialize an array column to a canonical string for the gate.

    The driver's canonicalizer sorts result columns with pandas, which
    cannot hash list cells (``TypeError: unhashable type: 'list'``), so
    every gate query must emit scalars.  ``array_join`` over the
    stringified elements matches DuckDB's ``array_to_string(...)``
    byte-for-byte for string/int elements; for doubles cast the elements
    to DECIMAL first (see ``jarr_dec``).  Coalesce keeps the empty-array
    case aligned (Spark ⇒ '' while DuckDB array_to_string(⟦⟧) ⇒ NULL).
    """
    return F.coalesce(F.array_join(col.cast("array<string>"), sep), F.lit(""))


def guard_rows(df: DataFrame, max_rows: int, name: str, hint: str) -> DataFrame:
    """Hard row-count guard for verifier-only exact-pair operators.

    O(n²) self-join baselines (exact n-gram Jaccard, all-pairs cosine)
    exist to verify the LSH scale paths at small scale; this guard makes
    them *unable* to execute an unbounded self-join.  The probe is a
    bounded action — ``limit(max_rows+1).count()`` early-exits the scan
    at max_rows+1 rows, it never counts the full table.
    """
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{name} is a verifier-only exact operator (quadratic self-join); "
            f"input exceeds {max_rows} rows. {hint}"
        )
    return df


def jarr_dec(col: Column, scale: int = 2, sep: str = "|") -> Column:
    """Like ``jarr`` for double arrays: decimal-cast elements so both
    engines print identical fixed-scale strings (e.g. ``-0.50``)."""
    return jarr(F.transform(col, lambda x: x.cast(f"decimal(18,{scale})")), sep)


def davg(col: str | Column, scale: int = 2) -> Column:
    """Deterministic AVG: exact decimal sum / count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, scale)).cast("double") / F.count(c)
