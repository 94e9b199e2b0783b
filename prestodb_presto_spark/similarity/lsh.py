"""Random-hyperplane LSH for approximate NN — the 100 TB scale path.

Plan shape (why it scales): the vector column explodes once to
(vec_id, dim, value) rows, and each of the 16 plane projections is a
SUM of value × an *inline hash expression* of the dimension index —
no coefficient table, no broadcast join, no driver-side dims probe.
One groupBy(vec_id) with 16 SUM accumulators yields all projections;
the shuffle payload is 16 longs per vector.  Bucketing and the
candidate pair step (operators/pairs.bucket_pairs) then touch only
(bucket, id) rows, with a hot-bucket cap bounding each bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prestodb_presto_spark.operators.pairs import bucket_pairs
from prestodb_presto_spark.similarity.knn import cosine_sql, dot_sql, quantized_sql

N_PLANES = 16
DEFAULT_BUCKET_CAP = 200


def _projections(
    emb: DataFrame, id_col: str, vec_col: str, n_planes: int, prefixes: list[str]
) -> DataFrame:
    """(id, s0..s{n_planes-1}): each vector's projections onto
    deterministic pseudo-random hyperplanes.  Plane p's coefficient for
    a `dim` row is hex char p % 32 + 1 of md5(prefixes[p // 32] || dim),
    an int in [-8, 8).  Pure expression — computed where the data lives,
    never materialized as a table.  The hash is the engine's md5-prefix
    convention (not xxhash64) so DuckDB derives identical coefficients
    and the LSH queries hash-match their differential oracles.  Packed
    derivation: ONE md5 per (dim, 32-plane group) supplies 32
    coefficients — 80 planes need 3 md5 calls per exploded row instead
    of 80 (measured ~8x faster end-to-end on the 80-plane banded
    signature; the r2 review flagged per-plane md5 as the ANN CPU hot
    spot)."""
    flat = emb.select(id_col, F.posexplode(F.expr(quantized_sql(vec_col))).alias("dim", "x"))
    for g, prefix in enumerate(prefixes):
        flat = flat.withColumn(f"__h{g}", F.md5(F.concat(F.lit(prefix), F.col("dim"))))

    def coeff(p: int) -> Column:
        return F.conv(F.substring(F.col(f"__h{p // 32}"), p % 32 + 1, 1), 16, 10).cast("int") - 8

    return flat.groupBy(id_col).agg(
        *[F.sum(F.col("x") * coeff(p)).alias(f"s{p}") for p in range(n_planes)]
    )


def _sign_bits(first: int, n: int) -> Column:
    """The signs of projections s<first>..s<first+n-1> as an n-bit bigint."""
    return sum(
        (F.when(F.col(f"s{first + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(n)),
        F.lit(0),
    ).cast("bigint")


def hyperplane_buckets(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket): 16-bit signature of hyperplane projection signs."""
    proj = _projections(emb, id_col, vec_col, N_PLANES, ["planes-"])
    return proj.select(id_col, _sign_bits(0, N_PLANES).alias("bucket"))


def lsh_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Pairs sharing an LSH bucket.

    ``bucket_cap`` drops buckets holding more than that many vectors
    before pairing, bounding candidates at O(cap · n) — one
    degenerate bucket (e.g. a spike of near-zero embeddings) would
    otherwise go quadratic.  Recall impact: only pairs whose single
    shared bucket is hot are lost; ``bucket_cap=None`` disables.
    """
    # each vector sits in exactly one bucket, so a pair can only arise
    # once: no distinct needed
    return bucket_pairs(
        hyperplane_buckets(emb, id_col, vec_col), "bucket", id_col, bucket_cap, distinct=False
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
    pair step → DISTINCT pair set.  Candidates are O(cap · n · bands).
    """
    n_planes = n_bands * planes_per_band
    prefixes = [f"planes-{g}-" for g in range((n_planes + 31) // 32)]
    proj = _projections(emb, id_col, vec_col, n_planes, prefixes)
    band_sigs = [_sign_bits(b * planes_per_band, planes_per_band) for b in range(n_bands)]
    sig = proj.select(id_col, F.posexplode(F.array(*band_sigs)).alias("band", "sig"))
    return bucket_pairs(sig, ["band", "sig"], id_col, bucket_cap)


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
