"""set_digest family — HLL + MinHash composite sketch.

Reference: presto-main/.../type/setdigest/SetDigest.java (registered at
metadata/TypeRegistry.java:139 with functions in
setdigest/SetDigestFunctions.java): a SetDigest couples a HyperLogLog
(cardinality) with a K-minimum-values MinHash (Jaccard between
digests).  Spark-first composition: the HLL half is Spark 4's
DataSketches `hll_sketch_agg` (binary, mergeable with hll_union_agg);
the MinHash half reuses the 64 universal-hash permutations from
text/minhash (partial-aggregation-friendly MIN accumulators).

Digest value = STRUCT<hll: BINARY, sig: ARRAY<BIGINT>[64]>.  Both
halves merge associatively, so digests build map-side and shuffle as
~2 KB payloads per group — the point of the sketch at 100 TB.  The
struct is read only by this module's functions (``merge_set_digest``,
``set_digest_cardinality``, ...); the HyperLogLog type of
``approx_set``/``merge``/``hll_cardinality`` is the airlift format of
functions/hll_sketch.py, a different value.

Estimates can't hash-match another implementation; the gate query
(agg_set_digest) checks both estimators against exact answers with the
same tolerance-units pattern as agg_hll_sketch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c
from prestodb_presto_spark.text.minhash import _CONSTS, _P31

N_SLOTS = 64


@register("make_set_digest")
def make_set_digest(col) -> Column:
    """Aggregate: build a SetDigest of a column's value set
    (SetDigestFunctions.mergeSetDigest builder path)."""
    h = F.pmod(F.xxhash64(c(col).cast("string")), F.lit(_P31))
    sig = F.array(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(_P31))
            for (a, b) in _CONSTS[:N_SLOTS]
        ]
    )
    return F.struct(
        F.hll_sketch_agg(c(col).cast("string")).alias("hll"), sig.alias("sig")
    )


@register("merge_set_digest")
def merge_set_digest(digest) -> Column:
    """Aggregate: merge partial SetDigests (HLL union + slot-wise MIN).

    Presto spells this ``merge(setdigest)`` — an overload resolved by
    argument type (SetDigestFunctions.java).  This registry is
    name-keyed, so the SetDigest overloads use qualified names:
    ``merge_set_digest`` here, ``set_digest_cardinality`` for
    ``cardinality(setdigest)``.  The unqualified ``merge`` is the airlift
    HyperLogLog merge (aggregates_reg), and ``cardinality`` the
    array/map size."""
    d = c(digest)
    sig = F.array(
        *[F.min(F.element_at(d.getField("sig"), i + 1)) for i in range(N_SLOTS)]
    )
    return F.struct(F.hll_union_agg(d.getField("hll")).alias("hll"), sig.alias("sig"))


@register("set_digest_cardinality")
def set_digest_cardinality(digest) -> Column:
    """cardinality(SetDigest) — the HLL estimate.  (Presto overloads
    `cardinality` by type; the registry is name-keyed, hence the
    qualified spelling.)"""
    return F.hll_sketch_estimate(c(digest).getField("hll"))


@register("jaccard_index")
def jaccard_index(a, b) -> Column:
    """jaccard_index(SetDigest, SetDigest) — fraction of matching MinHash
    slots (SetDigestFunctions.jaccardIndex)."""
    matches = F.zip_with(
        c(a).getField("sig"), c(b).getField("sig"), lambda x, y: (x == y).cast("int")
    )
    return F.aggregate(matches, F.lit(0), lambda acc, v: acc + v) / F.lit(
        float(N_SLOTS)
    )


@register("intersection_cardinality")
def intersection_cardinality(a, b) -> Column:
    """intersection_cardinality(SetDigest, SetDigest) ≈ J · |A ∪ B|
    (SetDigestFunctions.intersectionCardinality): Jaccard from the
    MinHash half scaled by the unioned-HLL cardinality."""
    union_est = F.hll_sketch_estimate(
        F.hll_union(c(a).getField("hll"), c(b).getField("hll"))
    )
    return F.round(jaccard_index(a, b) * union_est).cast("bigint")
