"""MinHash + LSH near-duplicate detection, Spark-first.

The 100 TB plan (the reason this module exists — the exact shingle
self-join is quadratic in duplicate-cluster size and shuffles every
shingle):

  1. shingle per doc (map-side array expression, no explode of text);
  2. explode distinct shingles → one xxhash64 base hash per shingle,
     then 64 universal-hash permutations as cheap modular arithmetic;
  3. groupBy(doc) with 64 MIN accumulators — partial aggregation means
     the shuffle carries only 64-long partials per (doc, partition);
  4. band the signature (r=2, b=32) → shuffle (band_hash) keys only;
  5. exact-Jaccard verification restricted to candidate pairs.

Catches J≥0.8 pairs with prob 1-(1-J²)³² ≈ 1-1e-13 — the verified
output equals the exact pair set for practical purposes, which is what
the differential oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prestodb_presto_spark.operators.pairs import bucket_pairs
from prestodb_presto_spark.operators.skew import drop_hot_buckets
from prestodb_presto_spark.text.analysis import shingles3_hashed

N_HASHES = 64
N_BANDS = 32
DEFAULT_BUCKET_CAP = 200
_P31 = (1 << 31) - 1  # Mersenne prime: keeps a*h+b < 2^62 (no ANSI overflow)

# deterministic universal-hash constants (Knuth multiplier / odd offsets)
_CONSTS = [((i * 2654435761 + 1) % _P31 or 1, (i * 40503 + 7) % _P31) for i in range(N_HASHES)]


def _signatures_from_shingle_rows(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, s: hashed shingle array) → (id, sig) — the single definition
    of the signature math (explode distinct → fold to 31 bits → 64 MIN
    accumulators); see minhash_signatures for the formulation notes.

    r13: the 64 MIN expressions are built as ONE-string SQL (``F.expr``)
    instead of stacked Column operators — the Column API pays a py4j
    round-trip per operator, which for 64×5 operators was ~0.7s of
    DRIVER time per query construction (measured; the parsed plan and
    results are bit-identical).  Per-query latency only — executor work
    is unchanged.

    r14: ``s`` carries 64-bit shingle HASHES (shingles3_hashed), not
    strings — the explode moves longs and the base hash is one pmod
    instead of an xxhash64 over a fresh string per row (guide §1.2).

    Precondition: ``s`` is already a DISTINCT array — every caller
    passes ``shingles3_hashed`` output, which ends in array_distinct,
    so re-distincting here (r12 form) re-hashed ~200 values per doc
    for nothing (and duplicates cannot change a MIN anyway)."""
    exploded = sh.select(id_col, F.explode("s").alias("hv"))
    base = exploded.select(id_col, F.expr(f"pmod(hv, {_P31}L)").alias("h"))
    mins = [
        F.expr(f"min(({a}L * h + {b}L) % {_P31}L) AS m{i}")
        for i, (a, b) in enumerate(_CONSTS)
    ]
    sig = base.groupBy(id_col).agg(*mins)
    arr = "array(" + ", ".join(f"m{i}" for i in range(N_HASHES)) + ")"
    return sig.select(id_col, F.expr(arr).alias("sig"))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sig: array<bigint> of N_HASHES minima) via explode + 64 MIN aggs.

    Formulation note (measured, sf0.1): a pure map-side variant — 64 ×
    array_min(transform(hs, …)) over the per-row hash array — computes
    identical values with zero shuffle but runs ~1.7× SLOWER warm: each
    permutation allocates a fresh array per row, while this explode +
    groupBy form runs 64 codegen'd MIN accumulators with no per-hash
    allocation.  The shuffle it pays is tiny: explode preserves
    partitioning, so partial aggregation finishes each doc in its own
    partition and the exchange moves one 64-long row per doc.
    """
    # distinct per doc before exploding: duplicate shingles can't change a
    # MIN, and the explode is the row-count hot spot of the whole pipeline
    return _signatures_from_shingle_rows(
        docs.select(id_col, shingles3_hashed(text_col).alias("s")), id_col
    )


def _bands_from_sig(sig: DataFrame, id_col: str) -> DataFrame:
    r = N_HASHES // N_BANDS
    return sig.select(
        id_col,
        F.posexplode(
            F.expr(f"transform(sequence(0, {N_BANDS - 1}), b -> slice(sig, b * {r} + 1, {r}))")
        ).alias("band_idx", "band"),
    ).select(id_col, F.hash("band_idx", "band").alias("bh"))


def _band_buckets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bh) band-bucket keys — the LSH 'index rows' for one corpus;
    the single banding definition shared by the pair step and the
    incremental (cross-corpus) paths."""
    return _bands_from_sig(minhash_signatures(docs, id_col, text_col), id_col)


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs sharing at least one LSH band bucket.

    ``bucket_cap`` drops band buckets holding more than that many docs
    before pairing — one pathological bucket (millions of empty /
    boilerplate documents) would otherwise re-create the quadratic join
    this module exists to avoid.  With the cap, candidate pairs are
    bounded by O(cap · n).  Recall impact: a pair is missed only if ALL
    32 of its shared buckets are hot, i.e. both docs sit exclusively in
    duplicate clusters larger than the cap — standard practice for
    100 TB dedup (hot buckets are boilerplate, and cluster members still
    dedup against the cluster's non-hot edges).  ``bucket_cap=None``
    disables the guard.
    """
    return bucket_pairs(_band_buckets(docs, id_col, text_col), "bh", id_col, bucket_cap)


def verified_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """LSH candidates re-verified with exact Jaccard ≥ threshold.

    The shingle-hash arrays are computed ONCE (lazy materialization) and
    shared between the signature derivation and the exact-Jaccard
    verify — measured 13% off the whole pipeline at sf0.1 vs
    re-shingling for the verify side (2.37s vs 2.72s min-of-5).  The
    verify's set math runs on the 64-bit shingle hashes
    (shingles3_hashed): |A∩B|/|A∪B| over hash sets equals the
    string-shingle Jaccard absent a 64-bit collision inside one pair's
    union (~n²/2⁶⁵) — the differential gate pins the resulting pair
    sets exactly against the string-exact oracle at every SF."""
    from prestodb_presto_spark.operators.materialize import materialize

    sh = materialize(
        docs.select(F.col(id_col), shingles3_hashed(text_col).alias("s")), eager=False
    )
    bands = _bands_from_sig(_signatures_from_shingle_rows(sh, id_col), id_col)
    cands = bucket_pairs(bands, "bh", id_col, bucket_cap)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("s").alias("s_b"))
    return _jaccard_verify(cands, a, b, threshold)


def _jaccard_verify(
    cands: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """The candidate pairs (key_a, key_b) whose shingle-hash sets, the
    (key, set) rows of ``sh_a`` and ``sh_b``, have Jaccard >= threshold;
    returns (key_a, key_b, jaccard)."""
    (ka, sa), (kb, sb) = sh_a.columns, sh_b.columns
    inter = F.size(F.array_intersect(sa, sb))
    jac = inter * 1.0 / (F.size(sa) + F.size(sb) - inter)
    return (
        cands.join(sh_a, ka)
        .join(sh_b, kb)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(ka, kb, "jaccard")
    )


def build_dedup_index(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persistable LSH dedup index of a corpus: (old_id, bh) band-
    bucket rows — 32 rows of 16 bytes per document, the artifact a
    production pipeline writes ONCE per corpus snapshot so later batches
    never re-shingle (let alone re-sign) the corpus.  Persist it with
    :func:`write_dedup_index`; consume it with :func:`check_batch`.
    """
    return _band_buckets(corpus, id_col, text_col).select(
        F.col(id_col).alias("old_id"), "bh"
    )


def write_dedup_index(
    corpus: DataFrame,
    table_name: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize :func:`build_dedup_index` through the engine's own
    writer (sources/io.write_table), BUCKETED by ``bh`` — the batch-vs-
    index equi-join on ``bh`` then reads the index pre-partitioned, so
    at 100 TB the nightly check shuffles only the arriving batch's band
    rows, never the stored index.  (Reference analog: Hive bucketed
    tables, SURVEY §2.2.)
    """
    from prestodb_presto_spark.sources.io import write_table

    write_table(
        build_dedup_index(corpus, id_col, text_col),
        bucket_by=(n_buckets, ["bh"]),
        table_name=table_name,
    )


def check_batch(
    new: DataFrame,
    index: DataFrame,
    old: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Dedup an arriving batch against a PERSISTED corpus index.

    ``index`` is the (old_id, bh) table written by
    :func:`write_dedup_index` (or any DataFrame of that shape);
    ``old`` supplies document text ONLY for the candidate slice — it is
    semi-joined down to candidates before shingling, so exact
    verification stays batch-sized.  Candidates = equi-join of the new
    batch's band buckets against the index; verification = exact Jaccard
    on candidates only.  Returns (new_id, old_id, jaccard >= threshold).
    """
    nb = _band_buckets(new, id_col, text_col).withColumnRenamed(id_col, "new_id")
    ob = index
    if bucket_cap is not None:
        # hot-bucket guard: an index bucket holding more than cap docs
        # (boilerplate/empty templates) would fan every matching new doc
        # out O(bucket) — drop it; recall caveat identical to
        # lsh_candidate_pairs (a pair is missed only if ALL its shared
        # buckets are hot).  Algebraic form — operators/skew; the index
        # is a persisted table scan, so no materialization boundary:
        # re-scanning parquet beats pinning the whole index in executor
        # storage every arriving batch (round-12 ADVICE)
        ob = drop_hot_buckets(ob, "bh", bucket_cap, materialize=False)
    cands = nb.join(ob, "bh").select("new_id", "old_id").distinct()
    sh_n = new.select(F.col(id_col).alias("new_id"), shingles3_hashed(text_col).alias("s_n"))
    # shingle ONLY the candidate slice of the corpus — the semi-join
    # keeps the verification scan batch-sized, not corpus-sized
    old_hit = old.join(
        cands.select(F.col("old_id").alias(id_col)).distinct(), id_col, "left_semi"
    )
    sh_o = old_hit.select(F.col(id_col).alias("old_id"), shingles3_hashed(text_col).alias("s_o"))
    return _jaccard_verify(cands, sh_n, sh_o, threshold)


def incremental_near_dup_pairs(
    new: DataFrame,
    old: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Cross-corpus near-dup check with the index derived in-query —
    :func:`check_batch` against :func:`build_dedup_index` of ``old``.
    Production pipelines persist the index between batches instead
    (:func:`write_dedup_index`); semantics are identical.
    """
    return check_batch(
        new,
        build_dedup_index(old, id_col, text_col),
        old,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        bucket_cap=bucket_cap,
    )
