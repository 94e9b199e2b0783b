"""SimHash Hamming-near pair search — bit-band LSH over 60-bit fingerprints.

No reference counterpart (Presto 0.206 has no near-dup operators); this
is the scale path for fingerprint-level dedup.  This module holds the
signature (the md5-derived token simhash) and the band definition:

  split the 60-bit fingerprint into ``d+1`` contiguous bit bands — by
  pigeonhole, any pair with Hamming distance <= d matches EXACTLY on at
  least one band.

Bucketing on (band_idx, band_value), the hot-bucket cap and the exact
popcount verify are the shared Hamming step
(operators/pairs.hamming_pairs, also behind multimodal/phash.py).
Candidates are O(collisions), not O(n^2); the only shuffles are the
fingerprint agg and the band-bucket pair step.

Everything is JVM expressions (no Python UDFs); the fingerprint is
md5-derived so a DuckDB oracle re-derives identical pairs bit-for-bit
(see dedup_simhash_pairs in queries/textops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prestodb_presto_spark.operators.pairs import hamming_pairs
from prestodb_presto_spark.text.analysis import (
    N_SIM_BITS,
    token_array,
    with_simhash64,
)

DEFAULT_MAX_HAMMING = 3
# one band per Hamming unit + 1 (pigeonhole); 60 bits / 4 bands = 15 bits
DEFAULT_BUCKET_CAP = 200


def simhash_band_buckets(
    fp: DataFrame, d: int = DEFAULT_MAX_HAMMING, fp_col: str = "simhash"
) -> DataFrame:
    """Explode each fingerprint row into its ``d+1`` (band_idx, band_value)
    bucket keys, carrying the full fingerprint for the verify step."""
    n_bands = d + 1
    width = N_SIM_BITS // n_bands
    if width * n_bands != N_SIM_BITS:
        raise ValueError(f"{N_SIM_BITS} bits not divisible into {n_bands} bands")
    mask = (1 << width) - 1
    return fp.select(
        "*",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                f" b -> shiftrightunsigned({fp_col}, b * {width}) & {mask})"
            )
        ).alias("band_idx", "bv"),
    )


def simhash_near_pairs(
    docs: DataFrame,
    d: int = DEFAULT_MAX_HAMMING,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """All (id_a, id_b, hamming) pairs with Hamming(simhash) <= d.

    Exact for any ``d`` <= the band count minus one: the pigeonhole
    guarantee means banding loses NO qualifying pair (unlike MinHash-LSH,
    which is probabilistic), so the verified output is the complete
    near-pair set — a DuckDB oracle reproduces it row-for-row.

    ``bucket_cap`` drops band buckets holding more than that many docs
    before pairing (hot buckets = giant boilerplate clusters); with the
    cap, candidates are bounded by O(cap * n).  A capped run is no
    longer exhaustive over capped clusters — standard 100 TB posture,
    same trade as minhash.DEFAULT_BUCKET_CAP.  ``None`` disables it.
    """
    fp = with_simhash64(docs.select(id_col, text_col), F.array_distinct(token_array(text_col)))
    bands = simhash_band_buckets(fp.select(id_col, "simhash"), d=d)
    return hamming_pairs(bands, id_col, ["simhash"], d, bucket_cap)
