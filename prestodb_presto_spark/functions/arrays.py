"""Array functions — reference operator/scalar/Array*.java (~40 files).

Near 1:1 with Spark (SURVEY.md §2.5 Array row); the registry pins the
Presto names and the few semantic deltas (cardinality, element_at's
1-based + negative indexing, array_position, slice).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col

for _name, _fn in {
    "array_distinct": F.array_distinct,
    "flatten": F.flatten,
    "shuffle": F.shuffle,
    "arrays_overlap": None,  # placeholder replaced below
}.items():
    if _fn is not None:
        register(_name)(lambda x, _f=_fn: _f(c(x)))


# ArrayMinFunction/ArrayMaxFunction return NULL when ANY element is NULL;
# Spark's array_min/array_max skip NULLs (the dialect's template agrees)
for _name, _fn in {"array_min": F.array_min, "array_max": F.array_max}.items():
    register(_name)(
        lambda x, _f=_fn: F.when(~F.exists(c(x), lambda e: e.isNull()), _f(c(x)))
    )


@register("cardinality")
def cardinality(x):
    """Presto overloads ``cardinality`` by input type (array/map → size,
    HyperLogLog → estimate, SetDigest → estimate of its hll half;
    reference FunctionRegistry.java overload resolution).  Python Columns
    carry no static type, so the dispatch inspects the unresolved
    expression text for the sketch builders this registry itself emits
    (``approx_set``/``merge`` → hll_sketch_agg/hll_union,
    ``make_set_digest`` → struct(... AS sig)); a plain column reference
    defaults to the array/map form.  For sketch values materialized in
    tables (where the expression is just a name), use the qualified
    spellings ``set_digest_cardinality`` / ``hll_sketch_estimate``."""
    col = c(x)
    text = str(col)
    if " AS sig" in text:  # SetDigest composite struct
        return F.hll_sketch_estimate(col.getField("hll"))
    if "hll_sketch_agg(" in text or "hll_union" in text:
        return F.hll_sketch_estimate(col)
    return F.size(col)


@register("array_sort")
def array_sort(x, comparator=None):
    """array_sort(arr[, (a,b) -> int]) — optional comparator lambda
    (ArraySortFunction/ArraySortComparatorFunction; Spark 3.4+ supports
    the same two-arg form natively)."""
    if comparator is None:
        return F.sort_array(c(x))
    return F.array_sort(c(x), comparator)


@register("arrays_overlap")
def arrays_overlap(a, b):
    return F.arrays_overlap(c(a), c(b))


@register("array_intersect")
def array_intersect(a, b):
    return F.array_intersect(c(a), c(b))


@register("array_union")
def array_union(a, b):
    return F.array_union(c(a), c(b))


@register("array_except")
def array_except(a, b):
    return F.array_except(c(a), c(b))


@register("array_join")
def array_join(x, delim, null_repl=None):
    return F.array_join(c(x), delim, null_repl)


@register("array_position")
def array_position(x, v):
    """1-based index of first occurrence, 0 if absent (ArrayPositionFunction.java)."""
    return F.array_position(c(x), v).cast("bigint")


@register("array_remove")
def array_remove(x, v):
    return F.array_remove(c(x), v)


@register("contains")
def contains(x, v):
    return F.array_contains(c(x), v)


@register("slice")
def slice_(x, start, length):
    return F.slice(c(x), lit_or_col(start), lit_or_col(length))


@register("element_at")
def element_at(x, idx):
    """1-based; negative counts from the end; NULL when out of bounds
    (Presto MapElementAtFunction/ArrayElementAt are null-safe, unlike
    ANSI-mode subscript)."""
    return F.try_element_at(c(x), lit_or_col(idx))


@register("repeat")
def repeat(v, n):
    return F.array_repeat(lit_or_col(v), n)


@register("sequence")
def sequence(start, stop, step=None):
    if step is None:
        return F.sequence(lit_or_col(start), lit_or_col(stop))
    return F.sequence(lit_or_col(start), lit_or_col(stop), lit_or_col(step))


@register("ngrams")
def ngrams(x, n: int):
    """Word n-grams of an array (reference ArrayNgramsFunction)."""
    arr = c(x)
    return F.when(
        F.size(arr) < n, F.array()
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.slice(arr, i + 1, n),
        )
    )


