"""Perceptual-hash image near-duplicate detection — dHash + bit-band LSH.

The multimodal twin of text/simhash.py: where simhash fingerprints token
streams, dHash fingerprints pixel gradients — the standard perceptual
hash for image dedup in training-data pipelines (re-encoded/resized
copies keep their gradient signs, so they land within a small Hamming
distance).

Pipeline (all stages distributed, no driver loop):

  1. decode (multimodal/codecs.decode_bmp — real, dependency-free) and
     hash inside ONE Arrow-batched mapInPandas pass: sample the
     grayscale image on a 9x8 grid (nearest-neighbor, closed form),
     compare horizontal neighbors → 64 bits;
  2. the hash travels as TWO bigint halves (h_hi, h_lo: rows 0-3 /
     4-7, 32 bits each) — both engines' bit ops stay in positive
     territory (DuckDB raises on 1<<63, Spark ANSI likewise guards);
  3. band the 64 bits into d+1 = 4 sixteen-bit bands — pigeonhole says
     a pair within Hamming d shares >= 1 intact band, so banding loses
     NO qualifying pair.  Bucketing, the hot-bucket cap and the pair
     step are the shared Hamming step (operators/pairs.hamming_pairs,
     also behind text/simhash.py);
  4. exact Hamming verify, in the same step:
     bit_count(h_hi^h_hi') + bit_count(h_lo^h_lo').

At 100 TB the shuffles are: one tiny (doc, 2xlong) hash row per image
(the decode+hash pass is narrow) and the band rows (4 x 24 bytes per
image); never pixels.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from prestodb_presto_spark.operators.pairs import hamming_pairs

N_GRID_W = 9  # dHash samples a 9x8 grid and compares horizontal neighbors
N_GRID_H = 8
N_BANDS = 4  # 64 bits / 4 bands = 16 bits; exact for hamming <= 3
DEFAULT_MAX_HAMMING = 3
DEFAULT_BUCKET_CAP = 200

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("h_hi", LongType()),
        StructField("h_lo", LongType()),
    ]
)


def dhash_halves(px: np.ndarray) -> tuple[int, int]:
    """64-bit dHash of an RGB uint8 image as two 32-bit halves.

    Bit (yi, xj) = [gray(x_{j+1}, y_i) > gray(x_j, y_i)] on the 9x8
    nearest-neighbor sample grid; bit position (yi%4)*8 + xj within the
    half (rows 0-3 → h_hi, rows 4-7 → h_lo).  Integer arithmetic only,
    so a SQL oracle re-derives it in closed form."""
    h, w, _ = px.shape
    gray = px.astype(np.int64).sum(axis=2) // 3
    ys = (np.arange(N_GRID_H) * h) // N_GRID_H
    xs = (np.arange(N_GRID_W) * w) // N_GRID_W
    g = gray[np.ix_(ys, xs)]  # 8 x 9
    bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)  # 8 x 8
    pos = np.arange(N_GRID_H - 1 + 1)  # 8 column positions
    weights = np.int64(1) << pos  # bit xj -> 1 << xj
    row_vals = (bits * weights).sum(axis=1)  # one byte-range value per row
    hi = int(sum(int(row_vals[yi]) << ((yi % 4) * 8) for yi in range(4)))
    lo = int(sum(int(row_vals[yi]) << ((yi % 4) * 8) for yi in range(4, 8)))
    return hi, lo


def _phash_batch(batches) -> Iterator:
    import pandas as pd

    from prestodb_presto_spark.multimodal.codecs import decode_bmp

    for pdf in batches:
        rows = []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            hi, lo = dhash_halves(decode_bmp(bytes(content)))
            rows.append({"doc_id": doc_id, "h_hi": hi, "h_lo": lo})
        yield pd.DataFrame(rows, columns=["doc_id", "h_hi", "h_lo"])


def phash_images(media_df: DataFrame) -> DataFrame:
    """(doc_id, content: BMP bytes, ...) → (doc_id, h_hi, h_lo) — decode
    and hash in one Arrow-batched narrow pass."""
    return media_df.select("doc_id", "content").mapInPandas(
        _phash_batch, schema=PHASH_SCHEMA
    )


def phash_band_buckets(hashes: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode (h_hi, h_lo) into 4 (band_idx, bv) rows: 16-bit slices
    [hi>>16, hi&0xFFFF, lo>>16, lo&0xFFFF]."""
    return hashes.select(
        id_col,
        "h_hi",
        "h_lo",
        F.posexplode(
            F.array(
                F.shiftrightunsigned("h_hi", 16),
                F.col("h_hi").bitwiseAND(F.lit(0xFFFF)),
                F.shiftrightunsigned("h_lo", 16),
                F.col("h_lo").bitwiseAND(F.lit(0xFFFF)),
            )
        ).alias("band_idx", "bv"),
    )


def phash_near_pairs(
    hashes: DataFrame,
    d: int = DEFAULT_MAX_HAMMING,
    id_col: str = "doc_id",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """All (id_a, id_b, hamming) image pairs with Hamming(dhash) <= d.

    Exact for d <= N_BANDS-1 (pigeonhole over the 4 bands), so a
    brute-force SQL oracle reproduces the output row-for-row.
    ``bucket_cap`` bounds degenerate buckets (e.g. millions of
    monochrome thumbnails hash identically) exactly like
    simhash_near_pairs — a capped run trades exhaustiveness inside
    over-cap clusters for O(cap·n) candidates."""
    if d > N_BANDS - 1:
        raise ValueError(f"banding is exact only for d <= {N_BANDS - 1}")
    bands = phash_band_buckets(hashes, id_col)
    return hamming_pairs(bands, id_col, ["h_hi", "h_lo"], d, bucket_cap)
