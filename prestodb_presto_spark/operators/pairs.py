"""The one candidate-pair step of the banded near-duplicate paths.

:func:`bucket_pairs` turns (id, bucket) band rows into the (id_a <
id_b) pairs sharing a bucket for similarity/lsh.py, text/minhash.py
and, through :func:`hamming_pairs`, text/simhash.py and
multimodal/phash.py; each caller keeps only its signature, its band
definition and any verify that is not Hamming.

With a hot-bucket cap (operators/skew.drop_hot_buckets) the pairs come
from ONE shuffle: groupBy the bucket key, collect the (<= cap) member
ids, and expand each bucket's sorted id set to its i<j pairs in-task
(:func:`grouped_pair_expand`) — the self-equi-join shuffles the band
relation twice.  Per-bucket cost is bounded by cap ids collected and
cap²/2 pairs exploded, memory-safe ONLY because over-cap buckets were
dropped first; an uncapped grouped array has no bound, which is why
the uncapped path stays the self-join.

Reference parity note: the reference has no LSH operator; this is the
engine's own 100 TB dedup machinery (SURVEY §2 north-star extensions).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prestodb_presto_spark.operators.skew import drop_hot_buckets


def grouped_pair_expand(
    df: DataFrame,
    bucket_cols: str | list[str],
    id_col: str,
    payload: list[str] | tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """(id, bucket[, payload...]) rows → (id_a < id_b[, payload_a/_b])
    pairs sharing a bucket.

    ``payload`` columns ride along per side as ``<name>_a`` /
    ``<name>_b`` (e.g. the simhash fingerprints the verify step needs —
    carrying them through the expansion avoids a join-back).
    ``distinct=False`` skips the final dedup for callers whose buckets
    are disjoint per pair (single-bucket AND-amplified LSH); payload
    values must be functionally determined by the id for ``distinct``
    to stay a pure pair dedup."""
    keys = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    pay = list(payload)
    if pay:
        elem = F.struct(F.col(id_col).alias("_id"), *[F.col(c) for c in pay])
        # array_sort on structs orders by field position: _id leads, so
        # pairs come out id_a < id_b
        outs = ", ".join(
            ["x._id AS id_a", "y._id AS id_b"]
            + [f"x.{c} AS {c}_a" for c in pay]
            + [f"y.{c} AS {c}_b" for c in pay]
        )
        cols = ["p.id_a", "p.id_b"] + [f"p.{c}_a" for c in pay] + [f"p.{c}_b" for c in pay]
    else:
        elem = F.col(id_col)
        outs = "x AS id_a, y AS id_b"
        cols = ["p.id_a", "p.id_b"]
    out = (
        df.groupBy(*keys)
        .agg(F.collect_set(elem).alias("es0"))
        .filter(F.size("es0") >= 2)
        # r13: sort ONCE per bucket — Catalyst does not CSE inside HOF
        # lambdas, so the old single-expression form re-sorted the set
        # for every outer element
        .select(F.array_sort("es0").alias("es"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(es, (x, i) ->"
                    " transform(slice(es, i + 2, size(es)),"
                    f" y -> struct({outs}))))"
                )
            ).alias("p")
        )
        .select(*cols)
    )
    return out.distinct() if distinct else out


def bucket_pairs(
    df: DataFrame,
    bucket_cols: str | list[str],
    id_col: str,
    cap: int | None,
    payload: list[str] | tuple[str, ...] = (),
    distinct: bool = True,
) -> DataFrame:
    """:func:`grouped_pair_expand` over the buckets holding at most
    ``cap`` rows; ``cap=None`` keeps every bucket and self-joins, with
    the same output columns and ``payload``/``distinct`` rules."""
    keys = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    if cap is not None:
        return grouped_pair_expand(
            drop_hot_buckets(df, keys, cap), keys, id_col, payload, distinct
        )
    a, b = df.alias("a"), df.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    out = a.join(b, [*on, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload],
    )
    return out.distinct() if distinct else out


def hamming_pairs(
    bands: DataFrame, id_col: str, fp_cols: list[str], d: int, cap: int | None
) -> DataFrame:
    """(id_a, id_b, hamming) for the pairs sharing a (band_idx, bv)
    bucket of ``bands`` — one (id, fingerprints..., band_idx, bv) row
    per band — whose bigint fingerprints ``fp_cols`` differ in at most
    ``d`` bits.  The fingerprints ride through the pair step to the
    exact popcount verify."""
    pairs = bucket_pairs(bands, ["band_idx", "bv"], id_col, cap, payload=fp_cols)
    hamming = reduce(
        add, [F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b"))) for c in fp_cols]
    ).cast("bigint")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= d)
        .select("id_a", "id_b", "hamming")
    )
