"""Binary / hash / HMAC functions — reference operator/scalar/
VarbinaryFunctions.java + HmacFunctions.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c


@register("md5")
def md5(x):
    """Presto md5(varbinary) -> varbinary (Spark's md5 returns hex text)."""
    return F.unhex(F.md5(c(x)))


@register("sha1")
def sha1(x):
    return F.unhex(F.sha1(c(x)))


@register("sha256")
def sha256(x):
    return F.unhex(F.sha2(c(x), 256))


@register("sha512")
def sha512(x):
    return F.unhex(F.sha2(c(x), 512))


@register("xxhash64")
def xxhash64(*cols):
    return F.xxhash64(*[c(x) for x in cols])


@register("crc32")
def crc32(x):
    return F.crc32(c(x))


def _hmac(algo: str):
    def builder(data, key: str):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _h(s: pd.Series) -> pd.Series:
            import hashlib
            import hmac as _hm

            kb = key.encode()
            return s.map(
                lambda v: _hm.new(
                    kb, v.encode() if isinstance(v, str) else bytes(v), getattr(hashlib, algo)
                ).hexdigest()
                if v is not None
                else None
            )

        return _h(c(data))

    return builder


# HMAC has no JVM builtin — Arrow-batched pandas UDF (cold path by design)
for _algo in ("md5", "sha1", "sha256", "sha512"):
    register(f"hmac_{_algo}")(_hmac(_algo))


@register("spooky_hash_v2_64")
def spooky_hash_v2_64(x):
    """Engine substitutes xxhash64 (same role: fast 64-bit content hash);
    documented deviation from VarbinaryFunctions.spookyHashV2_64."""
    return F.xxhash64(c(x))


@register("combine_hash")
def combine_hash(h1, h2):
    """Hash-state combiner (CombineHashFunction — internal to the
    reference's hash partitioning).  Engine deviation: xxhash64 over both
    states (the reference's 31·h1+h2 wraps on overflow, which ANSI-mode
    Spark arithmetic rejects); any mixing function serves the role."""
    return F.xxhash64(c(h1), c(h2))
