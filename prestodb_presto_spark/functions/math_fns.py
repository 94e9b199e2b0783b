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


@register("truncate")
def truncate(x, d=0):
    """Round toward zero (MathFunctions.java truncate)."""
    col = c(x)
    if d == 0:
        return F.when(col >= 0, F.floor(col)).otherwise(F.ceil(col)).cast("double")
    factor = F.lit(10.0) ** d
    scaled = col * factor
    return (
        F.when(scaled >= 0, F.floor(scaled)).otherwise(F.ceil(scaled)) / factor
    ).cast("double")


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


@register("width_bucket")
def width_bucket(x, lo, hi, n):
    return F.width_bucket(c(x), lit_or_col(lo), lit_or_col(hi), lit_or_col(n))


def _array_cosine(ca, cb):
    dot = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform(ca, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(cb, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / na / nb


@register("cosine_similarity")
def cosine_similarity(a, b, *, sparse: bool = False):
    """Presto takes sparse map<varchar,double> vectors
    (MathFunctions.java cosineSimilarity) — pass sparse=True for that
    signature; the dense array<float/double> form is the engine's vector
    convention (used by the similarity module)."""
    ca, cb = c(a), c(b)
    if not sparse:
        return _array_cosine(ca, cb)
    # sparse maps: dot over the union of keys (missing key -> 0)
    merged = F.map_zip_with(
        ca, cb, lambda k, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0))
    )
    dot = F.aggregate(F.map_values(merged), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.map_values(ca), F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(F.map_values(cb), F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / na / nb


@register("log")
def log(base, x):
    """Presto log(base, x) (MathFunctions.log) — ln(x)/ln(base), which is
    how the reference computes it (Math.log(x) / Math.log(base))."""
    return F.ln(c(x)) / F.ln(lit_or_col(base))
