"""Bitwise functions — reference operator/scalar/BitwiseFunctions.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c


@register("bitwise_left_shift")
def bitwise_left_shift(x, n: int):
    return F.shiftleft(c(x), n)


@register("bitwise_right_shift")
def bitwise_right_shift(x, n: int):
    return F.shiftrightunsigned(c(x), n)


@register("bitwise_arithmetic_shift_right")
def bitwise_arithmetic_shift_right(x, n: int):
    return F.shiftright(c(x), n)
