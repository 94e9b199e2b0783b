"""Random-hyperplane LSH for approximate NN — the 100 TB scale path.

Plan shape (why it scales): the vector column explodes once to
(vec_id, dim, value) rows, and each of the 16 plane projections is a
SUM of value × an *inline hash expression* of the dimension index —
no coefficient table, no broadcast join, no driver-side dims probe.
One groupBy(vec_id) with 16 SUM accumulators yields all projections;
the shuffle payload is 16 longs per vector.  Bucketing and the
candidate join then touch only (bucket, id) pairs, with a hot-bucket
cap bounding the bucket-local self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prestodb_presto_spark.operators.skew import drop_hot_buckets
from prestodb_presto_spark.similarity.knn import cosine_sql, dot_sql, quantized_sql

N_PLANES = 16
DEFAULT_BUCKET_CAP = 200


def _coeff(p: int) -> Column:
    """Deterministic pseudo-random hyperplane coefficient for (plane p,
    current `dim` row): hash-derived int in [-8, 8).  Pure expression —
    computed where the data lives, never materialized as a table.  The
    hash is the engine's md5-prefix convention (not xxhash64) so DuckDB
    derives identical coefficients and similarity_lsh_ann hash-matches
    its differential oracle.  Packed derivation: ONE md5 per dim row
    supplies all 16 coefficients (hex char p+1, 4 bits each) — 16x less
    hashing than a per-plane md5 (same trick as the banded path below;
    the r2 review flagged per-plane md5 as the ANN CPU hot spot)."""
    return F.conv(F.substring(F.col("__h"), p + 1, 1), 16, 10).cast("int") - 8


def hyperplane_buckets(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket): 16-bit signature of hyperplane projection signs."""
    flat = emb.select(id_col, F.posexplode(F.expr(quantized_sql(vec_col))).alias("dim", "x"))
    flat = flat.withColumn("__h", F.md5(F.concat(F.lit("planes-"), F.col("dim"))))
    proj = flat.groupBy(id_col).agg(
        *[F.sum(F.col("x") * _coeff(p)).alias(f"s{p}") for p in range(N_PLANES)]
    )
    bucket = sum(
        (F.when(F.col(f"s{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0)) for p in range(N_PLANES)),
        F.lit(0),
    )
    return proj.select(id_col, bucket.cast("bigint").alias("bucket"))


def lsh_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Pairs sharing an LSH bucket (bucket-local self-join).

    ``bucket_cap`` drops buckets holding more than that many vectors
    before the self-join, bounding candidates at O(cap · n) — one
    degenerate bucket (e.g. a spike of near-zero embeddings) would
    otherwise go quadratic.  Recall impact: only pairs whose single
    shared bucket is hot are lost; ``bucket_cap=None`` disables.
    """
    sig = hyperplane_buckets(emb, id_col, vec_col)
    if bucket_cap is not None:
        # algebraic guard — see operators/skew.drop_hot_buckets: a window
        # over `bucket` would single-task-buffer the hot bucket itself;
        # then bucket-grouped pair expansion (operators/pairs) — one
        # shuffle, no distinct needed: each vector sits in exactly one
        # bucket, so a pair can only arise once
        from prestodb_presto_spark.operators.pairs import grouped_pair_expand

        sig = drop_hot_buckets(sig, "bucket", bucket_cap)
        return grouped_pair_expand(sig, "bucket", id_col, distinct=False)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )

# ---------------------------------------------------------------------------
# Banded (OR-amplified) hyperplane LSH — embedding-cosine near-duplicate
# detection.  A single 16-bit signature (above) is AND-amplification only:
# precise but low recall.  Near-dup dedup wants high recall at high cosine,
# so — exactly like MinHash banding (text/minhash.py) — project onto
# n_bands × planes_per_band hyperplanes and make every band's sign-bit
# signature its own bucket key; candidates share ANY band bucket.
# Collision probability for angle θ: 1-(1-(1-θ/π)^planes)^bands — ≈97% for
# cosine ≥ 0.95 at (8 bands × 10 planes) while random pairs collide <1%.
# ---------------------------------------------------------------------------

N_BANDS = 8
PLANES_PER_BAND = 10


def banded_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = N_BANDS,
    planes_per_band: int = PLANES_PER_BAND,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket.

    Plan shape: one posexplode → groupBy(id) with n_bands×planes SUM
    accumulators (shuffle = 80 longs/vector, map-side combined) → each
    vector emits n_bands (band, sig) rows → per-(band, sig) capped
    self-join → DISTINCT pair set.  Candidates are O(cap · n · bands).
    """
    n_planes = n_bands * planes_per_band
    flat = emb.select(id_col, F.posexplode(F.expr(quantized_sql(vec_col))).alias("dim", "x"))
    # Packed coefficient derivation: one md5 per (dim, 32-plane group) —
    # each hex char is a 4-bit coefficient in [-8, 8).  80 planes need 3
    # md5 calls per exploded row instead of 80 (the _coeff form above);
    # measured ~8x faster end-to-end on the 80-plane banded signature.
    n_groups = (n_planes + 31) // 32
    for g in range(n_groups):
        flat = flat.withColumn(
            f"__h{g}", F.md5(F.concat(F.lit(f"planes-{g}-"), F.col("dim")))
        )

    def coeff(p: int) -> Column:
        g, i = p // 32, p % 32 + 1
        return F.conv(F.substring(F.col(f"__h{g}"), i, 1), 16, 10).cast("int") - 8

    proj = flat.groupBy(id_col).agg(
        *[F.sum(F.col("x") * coeff(p)).alias(f"s{p}") for p in range(n_planes)]
    )
    band_sigs = [
        sum(
            (
                F.when(F.col(f"s{b * planes_per_band + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                for j in range(planes_per_band)
            ),
            F.lit(0),
        ).cast("bigint")
        for b in range(n_bands)
    ]
    sig = proj.select(id_col, F.posexplode(F.array(*band_sigs)).alias("band", "sig"))
    if bucket_cap is not None:
        from prestodb_presto_spark.operators.pairs import grouped_pair_expand

        sig = drop_hot_buckets(sig, ["band", "sig"], bucket_cap)
        return grouped_pair_expand(sig, ["band", "sig"], id_col)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection (dedup-against-earliest).

    LSH-banded candidates → exact integer-quantized cosine on candidates
    only → a vector is a duplicate iff some *smaller-id* candidate
    partner clears ``threshold``; it dedups against the smallest such
    partner.  Returns (dup_id, kept_id, cosine) with cosine rounded to
    6 dp.  The exact-cosine verify touches only the candidate pairs, so
    total cost is candidate-bounded, never all-pairs.
    """
    pairs = banded_candidate_pairs(emb, id_col, vec_col, bucket_cap=bucket_cap)
    vecs = emb.selectExpr(f"{id_col} AS __id", f"{quantized_sql(vec_col)} AS q").selectExpr(
        "*", f"cast({dot_sql('q', 'q')} as double) AS nrm"
    )
    xa = vecs.select(F.col("__id").alias("id_a"), F.col("q").alias("qa"), F.col("nrm").alias("na"))
    xb = vecs.select(F.col("__id").alias("id_b"), F.col("q").alias("qb"), F.col("nrm").alias("nb"))
    scored = (
        pairs.join(xa, "id_a")
        .join(xb, "id_b")
        .withColumn("cos", F.expr(cosine_sql("qa", "qb", "na", "nb")))
        .filter(F.col("cos") >= threshold)
    )
    return (
        scored.groupBy(F.col("id_b").alias("dup_id"))
        .agg(
            F.min("id_a").alias("kept_id"),
            F.min_by(F.round("cos", 6), F.col("id_a")).alias("cosine"),
        )
        .orderBy("dup_id")
    )
