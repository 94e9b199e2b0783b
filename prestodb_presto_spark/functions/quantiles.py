"""Distributed exact weighted quantile — the scale path for the
qdigest selection rule.

The SQL dialect's approx_percentile parity form (dialect.
_qdigest_pick_weighted) reproduces airlift QuantileDigest's
member-element pick — the smallest value whose cumulative weight
strictly exceeds q * totalWeight (reference:
presto-main/.../aggregation/ApproximateLongPercentileAggregations.java
feeding io.airlift.stats.QuantileDigest.getQuantiles) — as a
sort_array(collect_list) fold.  That is the right PARITY form (it fits
one aggregate-expression slot, mixes with other aggregates in any
GROUP BY, and matches every reference-asserted value), but collect_list
materializes the whole group's (value, weight) pairs in one aggregation
buffer — the same 100 TB posture problem as a grouped pandas UDAF.

This module is the scale twin, shaped like hll_sketch.approx_set_by_group:

    weighted_quantile_by_group(df, group_cols, value_col, weight_col, q)

computes the IDENTICAL selection rule with bounded task memory:

  1. ONE shuffle: groupBy(keys, value).sum(weight) — state per task is
     the distinct-value count, not the row count, with map-side partial
     aggregation collapsing repeated values before the exchange;
  2. a per-group window cumulative sum over the distinct values
     (sort-based, spillable — unlike a collect_list buffer);
  3. the pick: min(value) over rows where cum_weight > q * total.

Total work: one hash shuffle + one sort — the same order as any
groupBy.  The window partition holds one GROUP's distinct values; for
the pathological all-distinct group it degrades to that group's sort,
which Spark's window operator spills to disk rather than OOMing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def weighted_quantile_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str | None,
    q: float,
) -> DataFrame:
    """(group_cols..., approx_percentile) per group — the qdigest
    member-element pick (smallest value whose cumulative weight
    STRICTLY exceeds q * totalWeight, clamped to the group max), equal
    to the dialect parity form on every input, with bounded memory.

    ``weight_col=None`` is the unit-weight (unweighted) form.  NULL
    values are excluded (Presto aggregate NULL-skip); a group with no
    non-NULL values yields NULL.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile must be in [0, 1]: {q}")
    drop_global = not group_cols
    if drop_global:
        df = df.withColumn("__g", F.lit(1))
        group_cols = ["__g"]
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    per_value = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.sum(w).alias("__w"))
    )
    win = Window.partitionBy(*group_cols).orderBy(value_col)
    full = Window.partitionBy(*group_cols)
    cum = (
        per_value.withColumn("__cum", F.sum("__w").over(win))
        .withColumn("__total", F.sum("__w").over(full))
    )
    # the pick: first value whose cumulative weight strictly exceeds
    # q * total; if none does (q = 1 exactly at the boundary), the max
    picked = cum.groupBy(*group_cols).agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("__cum") > F.lit(q) * F.col("__total"),
                    F.col(value_col),
                )
            ),
            F.max(F.col(value_col)),
        ).alias("approx_percentile")
    )
    return picked.drop("__g") if drop_global else picked
