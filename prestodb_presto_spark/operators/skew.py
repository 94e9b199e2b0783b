"""Skew mitigation: explicit key salting.

At 100 TB a single hot key (the null/default customer, the empty
document, the viral event) can put one shuffle partition hours behind
the rest.  Two remedies, in preference order:

1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
   on in session.get_spark) — zero code, reacts to measured sizes.
2. Explicit salting (this module) — when the skew is structural and
   known ahead of time, or the join is one AQE can't split (e.g. the
   build side of a shuffled hash join with a single giant key).

The salted join replicates the *small* side SALT_N times (a bounded
blow-up) and splits the big side's hot keys across SALT_N subkeys, so
the hot key's rows land on SALT_N partitions instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    Equivalent to ``big.join(small, on, how)`` for how in
    (inner, left); the salt column never escapes.  The join is always a
    shuffled hash join built on the replicated small side: salting only
    spreads shuffle partitions, and without the hint the cross join's
    product estimate would make Spark broadcast ``big``.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (salt breaks right/full)")
    big_s = big.withColumn(_SALT, (F.rand(seed=42) * salt).cast("int"))
    salts = small.sparkSession.range(salt).select(F.col("id").cast("int").alias(_SALT))
    small_s = small.crossJoin(F.broadcast(salts)).hint("shuffle_hash")
    out = big_s.join(small_s, [on, _SALT], how)
    return out.drop(_SALT)


def drop_hot_buckets(
    df: DataFrame, keys: str | list[str], cap: int, materialize: bool = True
) -> DataFrame:
    """Drop every row whose bucket (group over ``keys``) holds more than
    ``cap`` rows — WITHOUT a window over the bucket key.

    ``count(*) over (partition by bucket)`` buffers each bucket in ONE
    task; the degenerate bucket such a guard exists to bound (a
    boilerplate cluster holding a double-digit share of a 100 TB corpus)
    becomes a single-task spilled buffer — the guard serializes the very
    skew it guards against.  This form is algebraic instead:

      1. ``groupBy(keys).count()`` — map-side combined, so the hot
         bucket collapses to one row per input partition before the
         exchange;
      2. filter to the over-cap buckets — at most a handful of rows by
         construction (each survivor represents > cap input rows);
      3. broadcast ``left_anti`` join-back — no shuffle of ``df`` at
         all when the over-cap list broadcasts (it always does).

    With ``materialize=True`` (default) the input gets a lazy
    materialization boundary first (operators/materialize — strategy is
    session-configurable): the hot-list derivation runs as a separate
    (broadcast-exchange) job, so without the boundary the anti-join
    would recompute ``df``'s entire subtree a second time — at the LSH
    guard sites that subtree is the full shingle→minhash→banding
    pipeline (measured +45% wall on dedup_minhash_lsh when it
    double-derived).  Pass ``materialize=False`` when ``df`` is a plain
    table scan (e.g. the persisted dedup index in
    text/minhash.check_batch): re-scanning parquet twice is cheap,
    while materializing the WHOLE index into executor storage per
    arriving batch is not — and it would truncate the scan's lineage,
    losing recompute-on-executor-loss for no benefit.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if materialize:
        from prestodb_presto_spark.operators.materialize import (
            materialize as _mat,
        )

        df = _mat(df, eager=False)
    hot = (
        df.groupBy(*key_list)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .filter(F.col("__bsz") > cap)
        .select(*[F.col(k).alias(f"__hot_{k}") for k in key_list])
    )
    # NULL-SAFE anti join: a NULL bucket key is a bucket too (the window
    # form this replaces grouped NULLs together) — plain key equality
    # would never match NULL and the hot NULL bucket would survive
    cond = None
    for k in key_list:
        piece = df[k].eqNullSafe(F.col(f"__hot_{k}"))
        cond = piece if cond is None else (cond & piece)
    return df.join(F.broadcast(hot), cond, "left_anti")


def salted_groupby_count(df: DataFrame, key: str, salt: int = 8) -> DataFrame:
    """Two-phase count for a skewed group-by key: pre-aggregate on
    (key, salt), then merge — the hot key's first-phase work spreads
    across `salt` partitions.  (Spark's partial aggregation already does
    this per input partition; the explicit form matters when the partial
    map degrades, e.g. high-cardinality + hot key mixtures.)
    """
    return (
        df.withColumn(_SALT, (F.rand(seed=42) * salt).cast("int"))
        .groupBy(key, _SALT)
        .agg(F.count("*").alias("c"))
        .groupBy(key)
        .agg(F.sum("c").alias("cnt"))
    )
