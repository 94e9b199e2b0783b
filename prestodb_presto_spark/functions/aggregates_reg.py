"""Presto-named aggregate-function builders (FunctionRegistry.java:420-608).

The differential catalog (queries/aggregates.py) proves each aggregate's
semantics against DuckDB; this module is the programmatic surface — a
user writes ``df.groupBy(k).agg(A.approx_distinct("x"), A.max_by("a","b"))``
with Presto names.  A name Spark implements 1:1 maps to its builtin.  A
name in ``_ROUTED`` has one implementation, the dialect's rewrite: its
builder returns the text ``Engine.sql`` runs for the call, so the two
paths give the same values.  Those builders take column names and plain
literals, not Columns: the call is SQL text.  The HyperLogLog names
(``approx_set``, ``merge``, ``empty_approx_set``, ``hll_cardinality``)
build and read the one airlift sketch format (functions/hll_sketch.py),
and the presto-ml names share the dialect's 1-NN model: the collected
training set.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from prestodb_presto_spark.dialect import _STRING_LIT
from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c
from prestodb_presto_spark.functions.sql_support import ensure
from prestodb_presto_spark.functions.templates import _LIT, _body, _spell

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
}.items():
    register(_presto)(lambda *cols, _f=_spark: _f(*[c(x) for x in cols]))


for _presto, _spark2 in {
    "corr": F.corr,
    "covar_pop": F.covar_pop,
    "covar_samp": F.covar_samp,
    "regr_slope": F.regr_slope,
    "regr_intercept": F.regr_intercept,
}.items():
    register(_presto)(lambda a, b, _f=_spark2: _f(c(a), c(b)))

# the aggregates the dialect rewrites, approx_percentile in its 2-, 3- and
# 4-argument overloads and min_by/max_by with and without n, then the
# sketch and ML scalars whose rewrite pairs with one of them
_ROUTED = (
    "approx_distinct", "checksum", "arbitrary", "array_agg", "approx_percentile",
    "skewness", "kurtosis", "map_agg", "multimap_agg", "min_by", "max_by",
    "learn_classifier", "approx_set", "merge", "learn_regressor",
    "empty_approx_set", "hll_cardinality", "features", "classify", "regress",
)


def _arg(name: str, a) -> str:
    """A str as a column name; a number, bool or list of numbers as a
    Presto literal."""
    if isinstance(a, str):
        return a
    if isinstance(a, (int, float)):
        return _spell(_LIT, a)
    if isinstance(a, (list, tuple)) and all(isinstance(v, (int, float)) for v in a):
        return f"ARRAY[{', '.join(_spell(_LIT, v) for v in a)}]"
    raise TypeError(f"{name} takes a column name, not {type(a).__name__}")


def _splice_backslashes(text: str) -> str:
    """``F.expr`` parses when the DataFrame runs, under the
    escapedStringLiterals value then in force, while ``Engine.sql`` parses
    with raw literals: a backslash in a literal (the typeof spellings
    behind approx_distinct and checksum) reads the same in both modes only
    spliced in as ``char(92)``."""

    def splice(m: re.Match) -> str:
        parts = m.group()[1:-1].split("\\")
        return "(" + " || char(92) || ".join(f"'{p}'" for p in parts) + ")"

    return _STRING_LIT.sub(lambda m: splice(m) if "\\" in m.group() else m.group(), text)


def _routed(name: str):
    def build(*args) -> Column:
        text = _splice_backslashes(_body(name, [_arg(name, a) for a in args]))
        ensure(SparkSession.active(), text)
        return F.expr(text)

    build.__name__ = build.__qualname__ = name
    build.__doc__ = f"Presto {name}: the text Engine.sql runs for the call."
    return build


for _name in _ROUTED:
    register(_name)(_routed(_name))


@register("geometric_mean")
def geometric_mean(col) -> Column:
    return F.exp(F.avg(F.ln(c(col))))


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


@register("evaluate_classifier_predictions")
def evaluate_classifier_predictions(truth, prediction) -> Column:
    """Accuracy summary string (EvaluateClassifierPredictionsAggregation:
    'Accuracy: k/n (p%)')."""
    k = F.sum(F.when(c(truth) == c(prediction), 1).otherwise(0))
    n = F.count(c(truth))
    pct = F.round(k * 100.0 / n, 2)
    return F.concat(
        F.lit("Accuracy: "), k.cast("string"), F.lit("/"), n.cast("string"),
        F.lit(" ("), pct.cast("string"), F.lit("%)"),
    )
