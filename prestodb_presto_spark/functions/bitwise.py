"""Bitwise functions — reference operator/scalar/BitwiseFunctions.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c


@register("bit_count")
def bit_count(x, bits: int = 64):
    col = c(x).cast("bigint")
    if bits == 64:
        return F.bit_count(col).cast("bigint")
    # count within the low `bits` window (BitwiseFunctions.java bitCount(x, bits))
    mask = (1 << bits) - 1
    return F.bit_count(col.bitwiseAND(F.lit(mask))).cast("bigint")


@register("bitwise_left_shift")
def bitwise_left_shift(x, n: int):
    return F.shiftleft(c(x), n)


@register("bitwise_right_shift")
def bitwise_right_shift(x, n: int):
    return F.shiftrightunsigned(c(x), n)


@register("bitwise_arithmetic_shift_right")
def bitwise_arithmetic_shift_right(x, n: int):
    return F.shiftright(c(x), n)
