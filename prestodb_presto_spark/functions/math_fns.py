"""Math functions — reference operator/scalar/MathFunctions.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col

# 1:1 names
for _name, _fn in {
    "abs": F.abs,
    "ceil": F.ceil,
    "ceiling": F.ceil,
    "floor": F.floor,
    "exp": F.exp,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sqrt": F.sqrt,
    "cbrt": F.cbrt,
    "sign": F.signum,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "degrees": F.degrees,
    "radians": F.radians,
}.items():
    register(_name)(lambda x, _f=_fn: _f(c(x)))


@register("round")
def round_(x, d=0):
    return F.round(c(x), d)


@register("mod")
def mod(a, b):
    return c(a) % lit_or_col(b)


@register("pow")
def pow_(a, b):
    return F.pow(c(a), lit_or_col(b))


@register("power")
def power(a, b):
    return F.pow(c(a), lit_or_col(b))


@register("atan2")
def atan2(y, x):
    return F.atan2(c(y), c(x))


@register("e")
def e():
    return F.lit(2.718281828459045)


@register("pi")
def pi():
    return F.lit(3.141592653589793)


@register("random")
def random(n=None):
    return F.rand() if n is None else F.floor(F.rand() * n).cast("bigint")


@register("rand")
def rand(n=None):
    return random(n)


@register("log")
def log(base, x):
    """Presto log(base, x) (MathFunctions.log) — ln(x)/ln(base), which is
    how the reference computes it (Math.log(x) / Math.log(base))."""
    return F.ln(c(x)) / F.ln(lit_or_col(base))
