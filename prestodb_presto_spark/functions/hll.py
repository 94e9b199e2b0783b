"""Bit-exact ``approx_distinct`` — clean-room airlift-HyperLogLog parity.

The reference's approx_distinct is the airlift-stats HyperLogLog fed the
Presto ``XX_HASH_64`` operator hash of the logical value
(presto-main/.../aggregation/ApproximateCountDistinctAggregation.java:40,
type operators in presto-main/.../type/*Operators.java).  Spark's
approx_count_distinct is also HLL++ but hashes differently, so its
estimates differ — the last reference-parity family (29 frozen abstract
suite cases through round 6).  This module reimplements the pipeline
from public specifications:

  hash   = XXH64(value bytes, seed 0) — the public xxHash spec
           (github.com/Cyan4973/xxHash), per-type value encoding from
           the reference operator sources (cited in ``_hash_series``);
  bucket = top 11 bits of the hash (p=11 ⟵ the 0.023 default standard
           error: ceil(1.0816/err²) → 2048 buckets);
  rho    = leading zeros of (hash << 11 | 1 << 10) + 1;
  sparse = while distinct 26-bit hash prefixes ≤ m/8 (the point where a
           4-byte-per-entry sparse set outgrows the m/2-byte dense
           register file), cardinality is linear counting over 2^26
           virtual buckets — exact at small n;
  dense  = the HLL++ estimator (Heule/Nunkesser/Hall, EDBT 2013) with
           the paper's published threshold/rawEstimate/bias tables
           (hllpp_constants.json): raw estimate, bias correction for
           E ≤ 5m, linear counting below the threshold (1800 at p=11).

Bias interpolation: the paper specifies k-nearest-neighbor averaging
but leaves the scheme open; implementations differ (Spark: uniform k=6;
stream-lib: uniform k=6; airlift: its own).  This module uses
inverse-distance weighting over the 9 table points around the raw
estimate ([i-5, i+4) at the insertion index), selected EMPIRICALLY as
the HLL++-compliant scheme that reproduces every airlift-HLL value the
reference asserts (all 29 testApproximateCountDistinct assertions plus
the three GROUP BY values — tests/test_hll_parity.py).  All schemes
agree within ±0.05%; the choice only pins the integer rounding.

Scale posture: the one aggregate form is the native plan that
``Engine.sql`` lowers approx_distinct, checksum and
cardinality(approx_set(x)) to (the SQL text builders at the end of this
module).  For integer input it runs without Python: the hashes, the
estimator and the checksum finish are session SQL functions in the JVM.
Any other input type keeps one Arrow-vectorized pandas UDF for the hash,
the only per-row Python.  Both kinds are created in a session when a
text first calls them, by ``sql_support.ensure`` from its one table;
an Engine creates none, and ``P.approx_distinct``/``P.checksum`` run the
same text as ``Engine.sql``.  Prefix and the packed
register bucket << 6 | rho are native bit expressions;
count(DISTINCT prefix26) and collect_list(DISTINCT register), at most
2^p * (65 - p) registers per group (rho ranges over 1..65-p), are JVM
aggregates with map-side partials; the estimator runs once per group.
The numpy hashes and ``estimate`` below are the reference the SQL
functions are tested against, and the binary-sketch UDFs of
hll_sketch.py use them.  hll_sketch.py's DataFrame twins reuse the same
text builders.

The same estimator generalizes across precisions: checksum parity
(ChecksumAggregationFunction's Type.hash * PRIME64 wrapping sum) and
cardinality(approx_set(x)) parity at p=12 (ApproximateSetAggregation's
4096 buckets, fed by airlift's INTERNAL Murmur3Hash128.hash64 rather
than the XX_HASH_64 operator — murmur3_64_* below) live here too; all
reference assertion values for all three families are pinned in
tests/test_hll_parity.py.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import re
import struct
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_M64 = (1 << 64) - 1

P_BITS = 11                   # 0.023 standard error → 2048 buckets
SPARSE_PREFIX_BITS = 26       # sparse entries keep the top 26 hash bits
VALUE_BITS = 6                # airlift SparseHll.VALUE_BITS: entry = prefix26 << 6 | value
VALUE_MASK = (1 << VALUE_BITS) - 1

with open(
    os.path.join(os.path.dirname(__file__), "hllpp_constants.json")
) as _f:
    _TBL = json.load(_f)


# ---------------------------------------------------------------- XXH64

def xxh64_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized XXH64 (seed 0) of each element's 8 little-endian bytes
    — the fixed-width fast path (one 8-byte tail round + avalanche)."""
    x = x.astype(np.uint64, copy=False)
    k = x * _P2
    k = (k << np.uint64(31)) | (k >> np.uint64(33))
    k = k * _P1
    h = np.uint64((_P5 + np.uint64(8)) & np.uint64(_M64)) ^ k
    h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * _P1 + _P4
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def xxh64_bytes(data: bytes, seed: int = 0) -> int:
    """XXH64 of arbitrary bytes (public xxHash spec), for varchar /
    varbinary / long-decimal values."""
    p1, p2, p3, p4, p5 = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (64 - r))) & _M64

    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + p1 + p2) & _M64
        v2 = (seed + p2) & _M64
        v3 = seed & _M64
        v4 = (seed - p1) & _M64
        while i + 32 <= n:
            for _ in range(4):
                lane = int.from_bytes(data[i : i + 8], "little")
                if _ == 0:
                    v1 = (rotl((v1 + lane * p2) & _M64, 31) * p1) & _M64
                elif _ == 1:
                    v2 = (rotl((v2 + lane * p2) & _M64, 31) * p1) & _M64
                elif _ == 2:
                    v3 = (rotl((v3 + lane * p2) & _M64, 31) * p1) & _M64
                else:
                    v4 = (rotl((v4 + lane * p2) & _M64, 31) * p1) & _M64
                i += 8
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * p2) & _M64, 31) * p1) & _M64
            h = (h * p1 + p4) & _M64
    else:
        h = (seed + p5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (rotl((int.from_bytes(data[i : i + 8], "little") * p2) & _M64, 31) * p1) & _M64
        h ^= k
        h = (rotl(h, 27) * p1 + p4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * p1) & _M64
        h = (rotl(h, 23) * p2 + p3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * p5) & _M64
        h = (rotl(h, 11) * p1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * p2) & _M64
    h ^= h >> 29
    h = (h * p3) & _M64
    h ^= h >> 32
    return h


# ------------------------------------------------------------ estimator

def _bit_length_u64(v: np.ndarray) -> np.ndarray:
    """Branchless vectorized bit_length for uint64 (v > 0 assumed)."""
    v = v.astype(np.uint64, copy=True)
    out = np.zeros(v.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        s = np.uint64(shift)
        big = v >= (np.uint64(1) << s)
        out += np.where(big, shift, 0)
        v = np.where(big, v >> s, v)
    return out + 1  # v reduced to 1


def rho_of(hashes: np.ndarray, p: int = P_BITS) -> np.ndarray:
    """Leading zeros of (hash << p | sentinel) + 1; the sentinel bounds
    rho at 64 - p + 1 when the suffix is all zeros."""
    v = (hashes.astype(np.uint64) << np.uint64(p)) | np.uint64(1 << (p - 1))
    return (np.int64(64) - _bit_length_u64(v)) + 1


def _estimate_bias(raw: float, p: int = P_BITS) -> float:
    raw_tbl = np.asarray(_TBL["raw_estimate"][p - 4])
    bias_tbl = np.asarray(_TBL["bias"][p - 4])
    i = int(np.searchsorted(raw_tbl, raw, side="left"))
    sel = slice(max(0, i - 5), min(len(raw_tbl), i + 4))
    d = np.abs(raw_tbl[sel] - raw)
    w = 1.0 / np.maximum(d, 1e-9)
    return float(np.sum(bias_tbl[sel] * w) / np.sum(w))


def _linear_count_26(n: int) -> int:
    """Sparse-mode linear counting over the 2^26 prefix space (airlift
    SparseHll.cardinality)."""
    m26 = 1 << SPARSE_PREFIX_BITS
    return int(math.floor(m26 * math.log(m26 / (m26 - n)) + 0.5))


def _estimate_dense(regs: np.ndarray, p: int) -> int:
    """HLL++ dense estimate over a full 2^p register file — bias
    correction + small-range linear counting, airlift DenseHll parity."""
    m = 1 << p
    s = float(np.sum(np.exp2(-regs.astype(np.float64))))
    zeros = int(np.count_nonzero(regs == 0))
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / s
    corrected = raw - _estimate_bias(raw, p) if raw <= 5 * m else raw
    if zeros > 0:
        h = m * math.log(m / zeros)
    else:
        h = corrected
    threshold = _TBL["thresholds"][p - 4]
    return int(math.floor((h if h <= threshold else corrected) + 0.5))


def sparse_cutoff(p: int) -> int:
    """Distinct prefixes above which airlift converts sparse→dense (4 B
    per sparse entry outgrows the 2^p/2-byte dense register file at
    2^p/8)."""
    return (1 << p) // 8


def registers(p: int, entries) -> np.ndarray:
    """The 2^p register file from (bucket, rho) entries, each a dict or
    a sequence (Spark hands a collected struct array to a pandas UDF as
    either).  Duplicates per bucket fold by max; an entry with a NULL
    bucket (an empty sketch's marker row) is skipped."""
    bkts, rhos = [], []
    for e in entries:
        b, r = (e["b"], e["r"]) if isinstance(e, dict) else (e[0], e[1])
        if b is not None:
            bkts.append(b)
            rhos.append(r)
    regs = np.zeros(1 << p, dtype=np.int64)
    np.maximum.at(
        regs, np.asarray(bkts, dtype=np.int64), np.asarray(rhos, dtype=np.int64)
    )
    return regs


def estimate(p: int, n: int, entries, dense_only: bool = False) -> int:
    """airlift HyperLogLog cardinality of a merged state: ``n`` distinct
    26-bit hash prefixes and their (bucket, rho) ``entries`` at index
    length p (rho counted below the p index bits).  At or below the
    sparse cutoff it is linear counting over the 2^26 prefix space,
    exact at small n; past it, or always when ``dense_only``
    (P4HYPERLOGLOG, airlift makeDense), the HLL++ dense estimate.
    Empty input estimates 0; a caller that returns NULL there checks
    first."""
    if not dense_only and n <= sparse_cutoff(p):
        return _linear_count_26(n)
    return _estimate_dense(registers(p, entries), p)


def hll_cardinality(hashes: np.ndarray, p: int = P_BITS) -> int:
    """airlift-parity cardinality of a raw 64-bit hash array."""
    hashes = hashes.astype(np.uint64, copy=False)
    prefixes = hashes >> np.uint64(64 - SPARSE_PREFIX_BITS)
    df = pd.DataFrame({"p": prefixes, "r": rho_of(hashes, p)})
    merged = df.groupby("p", sort=False)["r"].max()
    buckets = merged.index.to_numpy(dtype=np.uint64) >> np.uint64(SPARSE_PREFIX_BITS - p)
    return estimate(p, len(merged), zip(buckets, merged.to_numpy()))


def entries_from_hashes(hashes: np.ndarray) -> np.ndarray:
    """Distinct sorted SPARSE_V2 entries for raw 64-bit hashes: one
    entry per distinct 26-bit prefix, max value kept (value lives in
    the low 6 bits, so uint32 max per prefix IS max value)."""
    h = hashes.astype(np.uint64, copy=False)
    prefixes = (h >> np.uint64(64 - SPARSE_PREFIX_BITS)).astype(np.uint32)
    values = rho_of(h, SPARSE_PREFIX_BITS).astype(np.uint32)
    entries = (prefixes << np.uint32(VALUE_BITS)) | values
    if len(entries) == 0:
        return entries
    df = pd.DataFrame({"p": prefixes, "e": entries})
    return np.sort(df.groupby("p", sort=False)["e"].max().to_numpy(dtype=np.uint32))


# ------------------------------------------------- per-type value hashes

def _decl_of(type_s: pd.Series | None) -> str | None:
    if type_s is None or len(type_s) == 0:
        return None
    v = type_s.iloc[0]
    return str(v).lower() if v is not None else None


def _decimal_is_short(decl: str | None, unscaled: list[int]) -> bool:
    if decl:
        m = re.match(r"decimal\((\d+)", decl)
        if m:
            return int(m.group(1)) <= 18
    return all(abs(u) < 10**18 for u in unscaled)


def _hash_series(
    s: pd.Series, decl: str | None = None, null_free: bool = False
) -> np.ndarray:
    """Presto XX_HASH_64 of each value, per the reference type operators:

      date(days) / timestamp(millis) / time(millis) /
      short decimal(unscaled): XxHash64.hash(long)
        (DateOperators.java:191, TimestampOperators.java:250,
         TimeOperators.java:183, DecimalOperators.java:668)
      real: hash((long) floatToIntBits) (RealOperators.java:173)
      double: hash(doubleToLongBits) (DoubleOperators.java:339)
      varchar/varbinary: hash(utf8/bytes) (VarcharOperators.java:259)
      long decimal: hash(16-byte LE unscaled slice)
        (DecimalOperators.java:675, UnscaledDecimal128Arithmetic.pack)

    The integer types (BigintOperators.java:298) hash in the JVM
    (``xxh64_sql``) and never reach this function.
    """
    if not null_free:
        s = s.dropna()
    if len(s) == 0:
        return np.empty(0, dtype=np.uint64)
    dt = s.dtype
    if isinstance(dt, pd.DatetimeTZDtype) or np.issubdtype(dt, np.datetime64):
        if isinstance(dt, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        micros = s.to_numpy(dtype="datetime64[us]").astype(np.int64)
        return xxh64_u64(micros // 1000)
    if dt == np.float32:
        bits = s.to_numpy(dtype=np.float32)
        # canonical NaN like Java floatToIntBits
        bits = np.where(np.isnan(bits), np.float32(np.nan), bits)
        return xxh64_u64(bits.view(np.int32).astype(np.int64))
    if np.issubdtype(dt, np.floating):
        arr = s.to_numpy(dtype=np.float64)
        ints = arr.view(np.int64).copy()
        ints[np.isnan(arr)] = 0x7FF8000000000000  # Java doubleToLongBits NaN
        return xxh64_u64(ints)
    if dt == bool or dt == np.bool_:
        return xxh64_u64(s.to_numpy(dtype=np.int64))
    first = s.iloc[0]
    if isinstance(first, datetime.datetime):
        epoch_dt = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        ms = []
        for v in s:
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            td = v - epoch_dt
            ms.append(
                (td.days * 86400 + td.seconds) * 1000 + td.microseconds // 1000
            )
        return xxh64_u64(np.asarray(ms, dtype=np.int64))
    if isinstance(first, datetime.date) and not isinstance(first, datetime.datetime):
        epoch = datetime.date(1970, 1, 1)
        days = np.asarray([(v - epoch).days for v in s], dtype=np.int64)
        return xxh64_u64(days)
    if isinstance(first, datetime.time):
        ms = np.asarray(
            [
                (v.hour * 3600 + v.minute * 60 + v.second) * 1000
                + v.microsecond // 1000
                for v in s
            ],
            dtype=np.int64,
        )
        return xxh64_u64(ms)
    if isinstance(first, Decimal):
        unscaled = [
            int(v.scaleb(-v.as_tuple().exponent)) if v.as_tuple().exponent < 0 else int(v)
            for v in s
        ]
        # Presto's short/long split is declared precision <= 18; the
        # declared type comes through the typeof() second argument —
        # fall back to the value-magnitude heuristic without it
        if _decimal_is_short(decl, unscaled):
            return xxh64_u64(np.asarray(unscaled, dtype=np.int64))
        # UnscaledDecimal128Arithmetic.pack: |value| little-endian with
        # the SIGN as a flag in bit 127 — not two's complement
        return np.asarray(
            [
                xxh64_bytes(
                    (abs(u) | ((1 << 127) if u < 0 else 0)).to_bytes(16, "little")
                )
                for u in unscaled
            ],
            dtype=np.uint64,
        )
    if isinstance(first, str):
        return np.asarray(
            [xxh64_bytes(v.encode("utf-8")) for v in s], dtype=np.uint64
        )
    if isinstance(first, (bytes, bytearray)):
        return np.asarray([xxh64_bytes(bytes(v)) for v in s], dtype=np.uint64)
    raise TypeError(f"presto_approx_distinct: unsupported value type {type(first)}")


# ------------------------------------------------ checksum (Type.hash)

_PRIME64 = 0x9E3779B185EBCA87


def _mix64(x: np.ndarray) -> np.ndarray:
    """Presto Type.hash for fixed-width values — the xxhash64 MIX round
    without the avalanche (AbstractLongType.hash / AbstractIntType.hash:
    rotateLeft(value * P2, 31) * P1)."""
    v = x.astype(np.uint64, copy=False) * _P2
    v = (v << np.uint64(31)) | (v >> np.uint64(33))
    return v * _P1


def _type_hash_series_values(s: pd.Series, decl: str | None = None) -> np.ndarray:
    """(Presto Type.hash of each non-null value, null count) — the
    per-row hash checksum() sums (ChecksumAggregationFunction.java:105):

      date / time / timestamp: _mix64(long value)
      short decimal: the RAW unscaled long (ShortDecimalType.hash:89)
      long decimal: xxh64(low) ^ xxh64(high & ~sign)
        (LongDecimalType.hash:90, UnscaledDecimal128Arithmetic.hash:768)
      real: _mix64(floatToIntBits) (RealType via AbstractIntType)
      double: _mix64(doubleToLongBits) (DoubleType.hash:77)
      boolean: 1231 / 1237 (BooleanType.hash:100)
      varchar / varbinary: xxh64(bytes) (AbstractVariableWidthBlock:92)

    The integer types hash in the JVM (``checksum_sql``).
    """
    if len(s) == 0:
        return np.empty(0, dtype=np.uint64)
    dt = s.dtype
    if isinstance(dt, pd.DatetimeTZDtype) or np.issubdtype(dt, np.datetime64):
        if isinstance(dt, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        micros = s.to_numpy(dtype="datetime64[us]").astype(np.int64)
        return _mix64(micros // 1000)
    if dt == bool or dt == np.bool_:
        arr = s.to_numpy(dtype=np.bool_)
        return np.where(arr, np.uint64(1231), np.uint64(1237))
    if dt == np.float32:
        bits = s.to_numpy(dtype=np.float32)
        return _mix64(bits.view(np.int32).astype(np.int64))
    if np.issubdtype(dt, np.floating):
        arr = s.to_numpy(dtype=np.float64)
        ints = arr.view(np.int64).copy()
        ints[np.isnan(arr)] = 0x7FF8000000000000
        return _mix64(ints)
    first = s.iloc[0]
    if isinstance(first, datetime.date) and not isinstance(first, datetime.datetime):
        epoch = datetime.date(1970, 1, 1)
        days = np.asarray([(v - epoch).days for v in s], dtype=np.int64)
        return _mix64(days)
    if isinstance(first, datetime.time):
        ms = np.asarray(
            [
                (v.hour * 3600 + v.minute * 60 + v.second) * 1000
                + v.microsecond // 1000
                for v in s
            ],
            dtype=np.int64,
        )
        return _mix64(ms)
    if isinstance(first, Decimal):
        unscaled = [
            int(v.scaleb(-v.as_tuple().exponent))
            if v.as_tuple().exponent < 0
            else int(v)
            for v in s
        ]
        if _decimal_is_short(decl, unscaled):
            # short decimal Type.hash is the raw unscaled long
            return np.asarray(unscaled, dtype=np.int64).view(np.uint64)
        out = []
        for u in unscaled:
            # UnscaledDecimal128 packs |value| little-endian with the
            # sign as a FLAG bit that unpackUnsignedLong strips — the
            # hash is sign-insensitive by construction
            raw = abs(u)
            low, high = raw & _M64, raw >> 64
            out.append(
                xxh64_bytes(low.to_bytes(8, "little"))
                ^ xxh64_bytes(high.to_bytes(8, "little"))
            )
        return np.asarray(out, dtype=np.uint64)
    if isinstance(first, str):
        return np.asarray(
            [xxh64_bytes(v.encode("utf-8")) for v in s], dtype=np.uint64
        )
    if isinstance(first, (bytes, bytearray)):
        return np.asarray(
            [xxh64_bytes(bytes(v)) for v in s], dtype=np.uint64
        )
    raise TypeError(f"presto_checksum: unsupported value type {type(first)}")


# ------------------------------------------ Murmur3 x64 128 (approx_set)

_MC1 = np.uint64(0x87C37B91114253D5)
_MC2 = np.uint64(0x4CF5AD432745937F)


def _mm_fmix(k: np.ndarray) -> np.ndarray:
    k ^= k >> np.uint64(33)
    k *= np.uint64(0xFF51AFD7ED558CCD)
    k ^= k >> np.uint64(33)
    k *= np.uint64(0xC4CEB9FE1A85EC53)
    k ^= k >> np.uint64(33)
    return k


def murmur3_64_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized Murmur3 x64 128 hash64 (seed 0) of each element's 8
    little-endian bytes — airlift Murmur3Hash128.hash64's long path (the
    internal hash airlift HyperLogLog.add() applies, used by approx_set;
    public algorithm, Austin Appleby)."""
    k1 = x.astype(np.uint64, copy=False) * _MC1
    k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
    k1 = k1 * _MC2
    h1 = k1.copy()  # seed 0: h1 = 0 ^ k1
    h2 = np.zeros_like(h1)
    n = np.uint64(8)
    h1 ^= n
    h2 ^= n
    h1 += h2
    h2 += h1
    h1 = _mm_fmix(h1)
    h2 = _mm_fmix(h2)
    return h1 + h2


def murmur3_64_bytes(data: bytes, seed: int = 0) -> int:
    """Murmur3 x64 128 hash64 (seed 0) of arbitrary bytes (public spec;
    airlift Murmur3Hash128.hash64 slice path) for varchar values."""
    c1, c2 = int(_MC1), int(_MC2)

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (64 - r))) & _M64

    def fmix(k: int) -> int:
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & _M64
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & _M64
        k ^= k >> 33
        return k

    n = len(data)
    h1 = h2 = seed & _M64
    i = 0
    while i + 16 <= n:
        k1 = int.from_bytes(data[i : i + 8], "little")
        k2 = int.from_bytes(data[i + 8 : i + 16], "little")
        k1 = (rotl((k1 * c1) & _M64, 31) * c2) & _M64
        h1 ^= k1
        h1 = (rotl(h1, 27) + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64
        k2 = (rotl((k2 * c2) & _M64, 33) * c1) & _M64
        h2 ^= k2
        h2 = (rotl(h2, 31) + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64
        i += 16
    tail = data[i:]
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        h2 ^= (rotl((k2 * c2) & _M64, 33) * c1) & _M64
    if len(tail) > 0:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        h1 ^= (rotl((k1 * c1) & _M64, 31) * c2) & _M64
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = fmix(h1)
    h2 = fmix(h2)
    return (h1 + h2) & _M64


APPROX_SET_P = 12  # ApproximateSetAggregation.NUMBER_OF_BUCKETS = 4096


def _approx_set_hashes(s: pd.Series, decl: str | None) -> np.ndarray:
    """Value encodings of ApproximateSetAggregation's double
    (doubleToLongBits) and varchar (utf8) overloads, each through
    airlift's internal Murmur3; the bigint overload hashes in the JVM
    (``murmur3_sql``)."""
    if len(s) == 0:
        return np.empty(0, dtype=np.uint64)
    dt = s.dtype
    if np.issubdtype(dt, np.floating):
        arr = s.to_numpy(dtype=np.float64)
        bits = arr.view(np.int64).copy()
        bits[np.isnan(arr)] = 0x7FF8000000000000
        return murmur3_64_u64(bits)
    first = s.iloc[0]
    if isinstance(first, str):
        return np.asarray(
            [murmur3_64_bytes(v.encode("utf-8")) for v in s], dtype=np.uint64
        )
    raise TypeError(
        f"presto_approx_set_cardinality: approx_set accepts bigint/double/"
        f"varchar, got {type(first)}"
    )




# ------------------------------------------------- native-plan SQL parity
#
# Engine.sql lowers approx_distinct / checksum / cardinality(approx_set(x))
# (dialect._parity_agg_compat) onto NATIVE Spark aggregates, so the plan
# has map-side partial aggregation, one shuffle and state bounded per
# group; no Python worker ever holds a group's raw values:
#
#   approx_distinct(x)  ->  __presto_hll_estimate(p,
#       count(DISTINCT prefix26(h)),
#       collect_list(DISTINCT bucket(h) << 6 | rho(h)), false)
#   with h the value hash (_dispatch_sql): for integer x the session SQL
#   function __presto_hll_xxh64, for any other type the Arrow-vectorized
#   pandas UDF presto_hll_hash.  prefix and the packed register are
#   native bit expressions.  Both DISTINCT aggregates plan as groups of
#   the partial-agg expand, deduplicated by fixed-width HashAggregates;
#   only the final list is an object buffer, with at most 2^p * (65 - p)
#   distinct registers per group (rho ranges over 1..65-p): 110,592
#   BIGINTs at p = 11.  The estimator touches only the final
#   one-row-per-group aggregates.  Because every aggregate is a JVM
#   aggregate, the form mixes freely with count/sum/etc. and a global
#   aggregation over EMPTY input emits the one row Presto emits.
#
#   checksum(x) -> __presto_hll_checksum_finish(sum(u64(m))) over
#   per-row contributions m = Type.hash(x) * PRIME64 (PRIME64 for NULL),
#   read as unsigned and summed as DECIMAL(38,0), so the wrapping 64-bit
#   total is exact at any row count without overflow.


# The value hashes, NULL for NULL input, of the types that are not
# integers: XX_HASH_64 (approx_distinct) and airlift's internal Murmur3
# (approx_set).  ``isnull_s`` carries x IS NULL so NaN VALUES survive
# pandas' NULL/NaN conflation; ``type_s`` carries typeof(x), the
# declared type the decimal encodings need.
@pandas_udf(LongType())
def presto_hll_hash(
    s: pd.Series, type_s: pd.Series, isnull_s: pd.Series
) -> pd.Series:
    out = np.full(len(s), np.nan, dtype=object)
    mask = ~isnull_s.fillna(True).astype(bool).to_numpy()
    if mask.any():
        hs = _hash_series(
            s[mask], _decl_of(type_s), null_free=True
        ).astype(np.int64)
        out[mask] = hs
    return pd.Series(out)


@pandas_udf(LongType())
def presto_hll_hash_m3(
    s: pd.Series, type_s: pd.Series, isnull_s: pd.Series
) -> pd.Series:
    out = np.full(len(s), np.nan, dtype=object)
    mask = ~isnull_s.fillna(True).astype(bool).to_numpy()
    if mask.any():
        hs = _approx_set_hashes(s[mask], _decl_of(type_s)).astype(np.int64)
        out[mask] = hs
    return pd.Series(out)


@pandas_udf(LongType())
def presto_checksum_row(
    s: pd.Series, type_s: pd.Series, isnull_s: pd.Series
) -> pd.Series:
    out = np.full(len(s), _PRIME64 - (1 << 64), dtype=np.int64)
    mask = ~isnull_s.fillna(True).astype(bool).to_numpy()
    if mask.any():
        hs = _type_hash_series_values(s[mask], _decl_of(type_s))
        out[mask] = (hs * np.uint64(_PRIME64)).view(np.int64)
    return pd.Series(out)


# ------------------------------------------------ JVM session functions
#
# For integer input the three hashes, and for every input the estimator
# and the checksum finish, are temporary SQL functions in the JVM.  A
# session creates the ones a statement calls before it runs it
# (``sql_support.ensure``), not when an Engine starts.
# They are created under spark.sql.ansi.enabled=false, and Spark keeps
# that mode when an ANSI query calls them: their BIGINT products and
# sums wrap like Java longs, the airlift arithmetic.  Spark analyzes a
# function's body again at every reference, so each layer of functions
# calling functions adds analysis time to every statement: a hash is two
# layers and the estimator one, and inside a body ``_let`` binds a value
# once through a one-element ``transform`` instead of a further layer.


def _s64(v: int) -> str:
    """A 64-bit constant as a signed BIGINT literal."""
    return f"{v - (1 << 64) if v >= 1 << 63 else v}L"


def _rotl_sql(v: str, r: int) -> str:
    return f"(shiftleft({v}, {r}) | shiftrightunsigned({v}, {64 - r}))"


def _round_sql(x: str, c1: int, c2: int) -> str:
    """rotl(x * c1, 31) * c2: the xxHash round over a zero accumulator
    (= Type.hash, ``_mix64``) with (P2, P1), Murmur3's k1 mix with
    (C1, C2)."""
    return f"({_rotl_sql(f'({x} * {_s64(c1)})', 31)} * {_s64(c2)})"


def _xorshift_sql(v: str, s: int, mul: int | None = None) -> str:
    """(v ^ v >>> s) [* mul]: one avalanche / fmix step."""
    out = f"({v} ^ shiftrightunsigned({v}, {s}))"
    return out if mul is None else f"({out} * {_s64(mul)})"


def _avalanche_sql(h: str, steps: tuple[tuple[int, int | None], ...]) -> str:
    for s, mul in steps:
        h = _xorshift_sql(h, s, mul)
    return h


_XXH_AVALANCHE = ((33, int(_P2)), (29, int(_P3)), (32, None))
_FMIX = ((33, 0xFF51AFD7ED558CCD), (33, 0xC4CEB9FE1A85EC53), (33, None))


def _let(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to one evaluation of ``value``."""
    return f"transform(array({value}), {var} -> {body})[0]"


def _bswap32_sql(v: str) -> str:
    """The four low bytes of BIGINT ``v`` in reverse order."""
    return (
        f"(shiftleft({v} & 255, 24) | shiftleft(shiftright({v}, 8) & 255, 16)"
        f" | shiftleft(shiftright({v}, 16) & 255, 8) | (shiftright({v}, 24) & 255))"
    )


def _table_sql(key: str) -> str:
    """hllpp_constants.json's ``key`` table for the parameter p, as an
    ARRAY<DOUBLE> split from one string constant (shortest round-trip
    decimals: Java parses them to the same doubles json.load does)."""
    whens = " ".join(
        f"WHEN {p} THEN CAST(split("
        f"'{','.join(repr(float(v)) for v in _TBL[key][p - 4])}', ',')"
        " AS ARRAY<DOUBLE>)"
        for p in (P_BITS, APPROX_SET_P)
    )
    return f"CASE p {whens} END"


def _np_sum_sql(t: str) -> str:
    """numpy's summation order for an array of at most 9 doubles:
    sequential below 8 elements, else the pairwise tree of the first 8
    then the rest in turn (add.reduce's pairwise_sum)."""
    tree = (
        f"(({t}[0] + {t}[1]) + ({t}[2] + {t}[3]))"
        f" + (({t}[4] + {t}[5]) + ({t}[6] + {t}[7]))"
    )
    return (
        f"IF(size({t}) < 8, aggregate({t}, 0D, (acc, x) -> acc + x),"
        f" aggregate(slice({t}, 9, 1), {tree}, (acc, x) -> acc + x))"
    )


def _estimate_sql() -> str:
    """``estimate`` as one SQL expression over the parameters
    (p, n, e, dense), NULL for n = 0: linear counting over 2^26 while
    sparse, else the HLL++ dense estimate of the register file.  ``e``
    holds packed registers bucket << 6 | rho (``register_sql``), so
    sorting orders them by (bucket, rho) and the last value per bucket
    is its register; NULL elements are skipped as ``registers`` skips
    an entry with a NULL bucket."""
    m26 = 1 << SPARSE_PREFIX_BITS
    bias = _let(
        _table_sql("raw_estimate"), "rt", _let(
            _table_sql("bias"), "bt", _let(
                "size(filter(rt, t -> t < raw))", "i", _let(
                    "greatest(i - 5, 0)", "lo", _let(
                        "transform(slice(rt, lo + 1, least(size(rt), i + 4) - lo),"
                        " t -> 1D / greatest(abs(t - raw), 1e-9D))", "w", _let(
                            "zip_with(slice(bt, lo + 1, size(w)), w, (b, x) -> b * x)",
                            "bw",
                            f"{_np_sum_sql('bw')} / {_np_sum_sql('w')}",
                        ))))))
    threshold = " ".join(
        f"WHEN {p} THEN {float(_TBL['thresholds'][p - 4])!r}D"
        for p in (P_BITS, APPROX_SET_P)
    )
    dense = _let(
        "CAST(shiftleft(1, p) AS DOUBLE)", "m", _let(
            "sort_array(filter(e, t -> t IS NOT NULL))", "a", _let(
                "filter(a, (t, j) -> j = size(a) - 1"
                f" OR shiftright(a[j + 1], {VALUE_BITS}) <> shiftright(t, {VALUE_BITS}))",
                "k", _let(
                    "m - size(k)", "z", _let(
                        "0.7213D / (1D + 1.079D / m) * m * m / (z + aggregate(k, 0D,"
                        f" (acc, t) -> acc + power(2D, -(t & {VALUE_MASK}))))",
                        "raw", _let(
                            f"IF(raw <= 5D * m, raw - {bias}, raw)", "c", _let(
                                "IF(z > 0D, m * ln(m / z), c)", "h",
                                f"CAST(floor(IF(h <= CASE p {threshold} END, h, c)"
                                " + 0.5D) AS BIGINT)",
                            )))))))
    return (
        "CASE WHEN n IS NULL OR n = 0 THEN NULL"
        " WHEN NOT dense AND n <= shiftleft(1, p - 3) THEN CAST(floor("
        f"{m26}D * ln({m26}D / ({m26}D - n)) + 0.5D) AS BIGINT)"
        f" ELSE {dense} END"
    )


def _checksum_finish_sql() -> str:
    """The DECIMAL sum ``total`` wrapped to 64 bits, as its 8
    little-endian bytes: CAST(BIGINT AS BINARY) writes big-endian, so
    each 32-bit half goes in byte-swapped."""
    two32 = 1 << 32
    return _let(
        f"pmod(total, {1 << 64})", "t", _let(
            f"CAST(pmod(t, {two32}) AS BIGINT)", "l", _let(
                f"t div {two32}", "u",
                f"CAST(shiftleft({_bswap32_sql('l')}, 32) | {_bswap32_sql('u')}"
                " AS BINARY)",
            )))


def _singleton_sql() -> str:
    """create_hll's one-entry SPARSE_V2 sketch of hash ``h``
    (``singleton_sketch``): tag 2, index length 12, entry count 1 as a
    u16, then the u32 entry, all little-endian."""
    return (
        f"concat(X'02{APPROX_SET_P:02X}0100',"
        f" CAST(CAST({_bswap32_sql(entry_sql('h'))} AS INT) AS BINARY))"
    )


def session_fn_defs() -> dict[str, tuple[str, str, str]]:
    """name -> (params, returns, body) of every session function, a body
    calling only names before it (``sql_support._table``)."""
    p1, p2, p4, p5 = int(_P1), int(_P2), int(_P4), int(_P5)
    xxh_acc = f"({_s64(p5 + 8)} ^ {_round_sql('x', p2, p1)})"
    m3_k1 = f"({_round_sql('x', int(_MC1), int(_MC2))} ^ 8)"
    return {
        "__presto_hll_xxh64_fin": (
            "h BIGINT", "BIGINT", _avalanche_sql("h", _XXH_AVALANCHE)
        ),
        "__presto_hll_xxh64": (
            "x BIGINT", "BIGINT",
            f"__presto_hll_xxh64_fin({_rotl_sql(xxh_acc, 27)} * {_s64(p1)}"
            f" + {_s64(p4)})",
        ),
        "__presto_hll_murmur3_fin": (
            "h BIGINT", "BIGINT",
            f"{_avalanche_sql('h', _FMIX)} + {_avalanche_sql('(h + 8)', _FMIX)}",
        ),
        "__presto_hll_murmur3": (
            "x BIGINT", "BIGINT", f"__presto_hll_murmur3_fin({m3_k1} + 8)"
        ),
        "__presto_hll_checksum_row": (
            "x BIGINT", "BIGINT",
            f"coalesce({_round_sql('x', p2, p1)} * {_s64(_PRIME64)},"
            f" {_s64(_PRIME64)})",
        ),
        "__presto_hll_estimate": (
            "p INT, n BIGINT, e ARRAY<BIGINT>, dense BOOLEAN",
            "BIGINT", _estimate_sql(),
        ),
        "__presto_hll_checksum_finish": (
            "total DECIMAL(38,0)", "BINARY", _checksum_finish_sql()
        ),
        "__presto_hll_singleton": ("h BIGINT", "BINARY", _singleton_sql()),
    }


# ------------------------------------------------- native-plan SQL text
#
# The SQL that dialect._parity_agg_compat emits, and that the DataFrame
# sketch twins (hll_sketch.approx_set_by_group, the streaming rollup)
# apply with F.expr: the one spelling of the hash dispatch and of the
# prefix / bucket / rho / packed-entry encoding in SQL.

# typeof spellings of the integer types: Spark's, and Presto's "integer"
# that the dialect's typeof pass writes in
_INT_TYPEOF = "'tinyint', 'smallint', 'int', 'integer', 'bigint'"


def _dispatch_sql(fn: str, udf: str, arg: str) -> str:
    """``fn`` (a session function of one BIGINT) over an integer ``arg``,
    the pandas ``udf`` over any other type.  typeof(arg) folds, so the
    optimized plan keeps one branch: no ArrowEvalPython for an integer
    column.  The other branch must still analyze for every type and must
    not raise when ConvertToLocalRelation evaluates it over VALUES rows,
    hence try_cast of the string form: CAST(arg AS BIGINT) fails
    analysis for DATE, BINARY and ARRAY, and raises on 'a'."""
    return (
        f"CASE WHEN typeof({arg}) IN ({_INT_TYPEOF})"
        f" THEN {fn}(try_cast(CAST({arg} AS STRING) AS BIGINT))"
        f" ELSE {udf}({arg}, typeof({arg}), ({arg}) IS NULL) END"
    )


def xxh64_sql(arg: str) -> str:
    """Presto's XX_HASH_64 of ``arg`` (``_hash_series``), NULL for NULL."""
    return _dispatch_sql("__presto_hll_xxh64", "presto_hll_hash", arg)


def murmur3_sql(arg: str) -> str:
    """airlift's internal Murmur3 hash64 of ``arg`` (``_approx_set_hashes``),
    NULL for NULL."""
    return _dispatch_sql("__presto_hll_murmur3", "presto_hll_hash_m3", arg)


def prefix26_sql(h: str) -> str:
    """The top 26 bits of hash expression ``h``: the sparse-entry key."""
    return f"shiftrightunsigned({h}, {64 - SPARSE_PREFIX_BITS})"


def register_sql(h: str, p: int) -> str:
    """The packed HLL register of hash expression ``h`` at index length
    ``p``: bucket << 6 | rho, with bucket the top p bits and rho
    ``rho_of``, the leading zeros of (h << p | sentinel) + 1.  The bit
    length is EXACTLY length(conv(v, 10, 2)): conv renders the unsigned
    64-bit binary string with no float rounding (a double floor(log2)
    misbins 2^48-1).  A BIGINT without a CAST, which the dialect's CAST
    pass would pivot through DECIMAL(38,0)."""
    return (
        f"(shiftleft(shiftrightunsigned({h}, {64 - p}), {VALUE_BITS}) |"
        f" (65 - length(conv(shiftleft({h}, {p}) | {1 << (p - 1)}, 10, 2))))"
    )


def entry_sql(h: str) -> str:
    """The packed airlift SPARSE_V2 entry of ``h``: prefix26 << 6 | value,
    value being rho at index length 26 — the register at p = 26."""
    return register_sql(h, SPARSE_PREFIX_BITS)


def _hll_native_pieces(h: str, p: int) -> tuple[str, str]:
    """(count-distinct-prefix expr, distinct packed-register list expr)
    over the hash expression ``h``.  Both are DISTINCT aggregates, so
    Spark plans each as one more group of its distinct expansion:
    fixed-width HashAggregates below the shuffle, no per-value object
    buffer.  A group holds at most 2^p * (65 - p) distinct registers.
    The pandas UDF's references run as one ArrowEvalPython; a session
    function is inlined at each."""
    return (
        f"count(DISTINCT {prefix26_sql(h)})",
        f"collect_list(DISTINCT {register_sql(h, p)})",
    )


def _estimate_call(p: int, h: str, dense: bool = False) -> str:
    n, regs = _hll_native_pieces(h, p)
    return f"__presto_hll_estimate({p}, {n}, {regs}, {str(dense).lower()})"


def approx_distinct_sql(arg: str, p: int = P_BITS) -> str:
    # Presto's approx_distinct over empty / all-NULL input is 0
    return f"coalesce({_estimate_call(p, xxh64_sql(arg))}, 0)"


def approx_set_cardinality_sql(arg: str) -> str:
    # p=12: ApproximateSetAggregation's 4096 buckets, fed by airlift's
    # internal Murmur3; empty / all-NULL input yields NULL (the NULL
    # sketch), hence no coalesce
    return _estimate_call(APPROX_SET_P, murmur3_sql(arg))


def approx_set_dense_cardinality_sql(arg: str) -> str:
    # cardinality(CAST(approx_set(x) AS P4HYPERLOGLOG)): the dense-only
    # representation (spi/type/P4HyperLogLogType, airlift
    # HyperLogLog.makeDense) — same hash/bucket/rho pipeline, estimator
    # forced past the sparse linear-count branch (testP4ApproxSet* pins
    # where its values diverge from the sparse ones)
    return _estimate_call(APPROX_SET_P, murmur3_sql(arg), dense=True)


# serialized empty p=12 sparse sketch (HyperLogLogFunctions.emptyApproxSet):
# SPARSE_V2 tag, indexBitLength 12, zero entries — hll_sketch.empty_sketch()
EMPTY_SKETCH_SQL = "X'020C0000'"


def approx_set_sql(arg: str) -> str:
    """Bare ``approx_set(x)`` (a sketch VALUE, not its cardinality):
    the same native pieces as the estimate path plus the exact sparse
    payload — count(DISTINCT prefix26) picks the representation, the
    distinct packed registers (at most 2^12 * 53 per group) build the
    dense file, collect_list(DISTINCT packed 32-bit airlift entry)
    carries the sparse set — finished by the scalar presto_hll_pack into
    airlift SPARSE_V2 / DENSE_V2 bytes (hll_sketch.py).  The packed
    sketch merged later reproduces the single-level estimate bit-exactly
    (same cutoff, same estimator)."""
    h = murmur3_sql(arg)
    n, regs = _hll_native_pieces(h, APPROX_SET_P)
    return (
        f"presto_hll_pack({APPROX_SET_P}, {n}, {regs},"
        f" collect_list(DISTINCT {entry_sql(h)}))"
    )


def create_hll_sql(arg: str) -> str:
    """create_hll(x): the one-entry sketch of x's Murmur3 hash."""
    return f"__presto_hll_singleton({murmur3_sql(arg)})"


def checksum_sql(arg: str, over: str = "") -> str:
    """ChecksumAggregationFunction parity as a native sum: the per-row
    contribution m = Type.hash(x) * PRIME64 (PRIME64 for NULL), read as
    an unsigned 64-bit value, is summed as DECIMAL(38,0) — exact at any
    row count — and the finish folds the total to the wrapping 64-bit
    sum's 8 LE VARBINARY bytes.  ``over`` carries a window clause
    (" OVER (..)") for the sum, so windowed checksum is parity too."""
    m = _dispatch_sql("__presto_hll_checksum_row", "presto_checksum_row", arg)
    u64 = f"pmod(CAST({m} AS DECIMAL(20,0)), {1 << 64})"
    return f"__presto_hll_checksum_finish(sum(CAST({u64} AS DECIMAL(38,0))){over})"
