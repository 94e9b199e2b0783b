"""Presto-named aggregate-function builders (FunctionRegistry.java:420-608).

The differential catalog (queries/aggregates.py) proves each aggregate's
semantics against DuckDB; this module is the programmatic surface — a
user writes ``df.groupBy(k).agg(A.approx_distinct("x"), A.max_by("a","b"))``
with Presto names and gets native Spark aggregate expressions, composed
where Spark lacks a 1:1 builtin.  approx_distinct and checksum are the
text ``Engine.sql`` runs, so the two paths give the same values; over a
type that is not an integer its hash is a pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c
from prestodb_presto_spark.functions.hll import approx_distinct_sql, checksum_sql
from prestodb_presto_spark.functions.sql_support import ensure

# 1:1 native mappings
for _presto, _spark in {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count_if": F.count_if,
    "bool_and": F.bool_and,
    "bool_or": F.bool_or,
    "every": F.bool_and,
    "variance": F.var_samp,
    "var_samp": F.var_samp,
    "var_pop": F.var_pop,
    "stddev": F.stddev_samp,
    "stddev_samp": F.stddev_samp,
    "stddev_pop": F.stddev_pop,
    "bitwise_and_agg": F.bit_and,
    "bitwise_or_agg": F.bit_or,
    "any_value": F.any_value,
    "min_by": F.min_by,
    "max_by": F.max_by,
}.items():
    register(_presto)(lambda *cols, _f=_spark: _f(*[c(x) for x in cols]))


@register("arbitrary")
def arbitrary(col) -> Column:
    """An arbitrary NON-NULL value (ArbitraryAggregationFunction skips
    NULLs; Spark's any_value respects them unless told otherwise)."""
    return F.any_value(c(col), ignoreNulls=True)


@register("skewness")
def skewness(col) -> Column:
    """Population skewness √n·M3/M2^1.5 — Spark's definition matches the
    reference (CentralMomentsAggregation.java:55), but the reference
    returns NULL below 3 rows where Spark emits NaN/0."""
    n = F.count(c(col))
    return F.when(n >= 3, F.skewness(c(col)))


@register("kurtosis")
def kurtosis(col) -> Column:
    """Reference kurtosis is the SAMPLE-corrected excess formula
    (CentralMomentsAggregation.java:84):
        ((n-1)n(n+1))/((n-2)(n-3)) · M4/M2² − 3(n−1)²/((n−2)(n−3))
    while Spark's F.kurtosis is the population g2 = n·M4/M2² − 3.
    Convert: M4/M2² = (g2+3)/n ⇒
        presto = (n−1)/((n−2)(n−3)) · ((n+1)(g2+3) − 3(n−1));
    NULL below 4 rows, matching the reference (DuckDB's kurtosis uses the
    same sample formula, so the differential gate checks this exactly)."""
    n = F.count(c(col)).cast("double")
    g2 = F.kurtosis(c(col))
    conv = (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * (g2 + 3) - 3 * (n - 1))
    return F.when(n >= 4, conv)


@register("array_agg")
def array_agg(col) -> Column:
    """array_agg keeps NULL elements (ArrayAggregationFunction; SURVEY
    §2.3 note) — Spark's collect_list drops them, so elements ride in a
    struct wrapper and unwrap after collection."""
    wrapped = F.collect_list(F.struct(c(col).alias("v")))
    return F.transform(wrapped, lambda s: s.getField("v"))

for _presto, _spark2 in {
    "corr": F.corr,
    "covar_pop": F.covar_pop,
    "covar_samp": F.covar_samp,
    "regr_slope": F.regr_slope,
    "regr_intercept": F.regr_intercept,
}.items():
    register(_presto)(lambda a, b, _f=_spark2: _f(c(a), c(b)))


@register("approx_percentile")
def approx_percentile(col, percentage, accuracy: int = 10000) -> Column:
    """approx_percentile(x, p) / (x, ARRAY[p...]) — QuantileDigest in the
    reference (ApproximateLongPercentileAggregations.java), Greenwald-
    Khanna sketch in Spark; both are rank-error-bounded sketches."""
    if isinstance(percentage, (list, tuple)):
        percentage = F.array(*[F.lit(p) for p in percentage])
    return F.percentile_approx(c(col), percentage, F.lit(accuracy))


@register("geometric_mean")
def geometric_mean(col) -> Column:
    return F.exp(F.avg(F.ln(c(col))))


def _parity(name: str, sql, col: str) -> Column:
    """``Engine.sql``'s text for ``name(col)`` (functions/hll.py); it is
    SQL, so ``col`` is a column name."""
    if not isinstance(col, str):
        raise TypeError(f"{name} takes a column name, not {type(col).__name__}")
    text = sql(col)
    ensure(SparkSession.active(), text)
    return F.expr(text)


@register("approx_distinct")
def approx_distinct(col: str) -> Column:
    """airlift HLL (ApproximateCountDistinctAggregation.java)."""
    return _parity("approx_distinct", approx_distinct_sql, col)


@register("checksum")
def checksum(col: str) -> Column:
    """VARBINARY wrapping sum of Type.hash * PRIME64 (ChecksumAggregationFunction)."""
    return _parity("checksum", checksum_sql, col)


@register("map_agg")
def map_agg(key, value) -> Column:
    """map_agg(k, v) -> map (MapAggregationFunction.java).  Dedupe is BY
    KEY (reference KeyValuePairs keeps one value per key and never
    throws) — array_distinct over (k,v) pairs would leave duplicate keys
    when one key carries two values, which crashes map_from_entries
    under Spark's default mapKeyDedupPolicy=EXCEPTION.  NULL keys are
    skipped (reference KeyValuePairs.add ignores null keys)."""
    entries = F.collect_list(
        F.when(c(key).isNotNull(), F.struct(c(key).alias("k"), c(value).alias("v")))
    )
    keys = F.array_distinct(F.transform(entries, lambda e: e.k))
    return F.map_from_arrays(
        keys,
        F.transform(
            keys, lambda k: F.element_at(F.filter(entries, lambda e: e.k == k), 1).v
        ),
    )


@register("multimap_agg")
def multimap_agg(key, value) -> Column:
    """multimap_agg(k, v) -> map<k, array<v>> (MultimapAggregationFunction;
    null keys skipped like map_agg)."""
    entries = F.collect_list(
        F.when(c(key).isNotNull(), F.struct(c(key).alias("k"), c(value).alias("v")))
    )
    keys = F.array_distinct(F.transform(entries, lambda e: e.k))
    return F.map_from_arrays(
        keys,
        F.transform(
            keys,
            lambda k: F.transform(
                F.filter(entries, lambda e: e.k == k), lambda e: e.v
            ),
        ),
    )


@register("histogram")
def histogram(col) -> Column:
    """histogram(x) -> map<x, count> (histogram/Histogram.java).  For
    skew-safe 100 TB use prefer the two-level groupBy form in
    queries/aggregates.py::agg_histogram."""
    vals = F.collect_list(c(col))
    keys = F.array_distinct(vals)
    return F.map_from_arrays(
        keys, F.transform(keys, lambda k: F.size(F.filter(vals, lambda v: v == k)))
    )


@register("numeric_histogram")
def numeric_histogram(buckets: int, col, lo, hi) -> Column:
    """Fixed-bucket numeric histogram: bucket index -> count."""
    width = (F.lit(hi) - F.lit(lo)) / F.lit(buckets)
    idx = F.least(
        F.lit(buckets - 1),
        F.greatest(F.lit(0), F.floor((c(col) - F.lit(lo)) / width).cast("int")),
    )
    vals = F.collect_list(idx)
    keys = F.array_sort(F.array_distinct(vals))
    return F.map_from_arrays(
        keys, F.transform(keys, lambda k: F.size(F.filter(vals, lambda v: v == k)))
    )


@register("approx_percentile_weighted")
def approx_percentile_weighted(col, weight, percentage) -> Column:
    """approx_percentile(x, w, p) — the weighted form
    (ApproximateLongPercentileAggregations.java weighted overloads).
    Spark's sketch has no weight parameter; the engine maps to the exact
    weighted percentile (F.percentile with integer frequency), which is
    rank-exact — a strictly stronger guarantee at the same aggregation
    cost class."""
    if isinstance(percentage, (list, tuple)):
        percentage = F.array(*[F.lit(p) for p in percentage])
    return F.percentile(c(col), percentage, c(weight).cast("long"))


@register("map_union")
def map_union(col) -> Column:
    """map_union(map) -> map (MapUnionAggregation.java): union of all
    input maps, one value per key (first seen wins, like the reference's
    KeyValuePairs merge)."""
    entries = F.flatten(F.collect_list(F.map_entries(c(col))))
    keys = F.array_distinct(F.transform(entries, lambda e: e.getField("key")))
    return F.map_from_arrays(
        keys,
        F.transform(
            keys,
            lambda k: F.element_at(
                F.filter(entries, lambda e: e.getField("key") == k), 1
            ).getField("value"),
        ),
    )
