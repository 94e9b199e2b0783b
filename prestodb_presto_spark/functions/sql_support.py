"""Session-registered helper UDFs for the SQL dialect path.

A few reference functions have no Spark expression equivalent and no
reasonable higher-order-function composition: Unicode normalization
(java.text.Normalizer has no string-keyed overload reflect() could hit)
and UTF-8 decoding with replacement semantics (Spark's decode is
strict/UTF8-lossy without a replacement hook).  They run as Arrow-batched
pandas UDFs, the registry's documented slow tier — none appear in
relational catalog queries (plan-asserted, tests/test_plans.py).

References: presto-main/.../scalar/StringFunctions.java (normalize,
fromUtf8), JoniRegexpReplaceLambdaFunction.java (regexp parts).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


# These three are also the DataFrame builders of strings.normalize,
# from_utf8 and word_stem, so both paths run the same code.
@pandas_udf(StringType())
def presto_normalize(s, form):
    import unicodedata

    return pd.Series(
        [
            None if (v is None or f is None) else unicodedata.normalize(f, v)
            for v, f in zip(s, form)
        ]
    )


@pandas_udf(StringType())
def presto_from_utf8(b, repl):
    def one(v, r):
        if v is None or r is None:
            return None
        # Java's CharsetDecoder REPLACE action emits U+FFFD per
        # malformed sequence; Python's errors='replace' matches on
        # the tested byte shapes, then the reference's custom
        # replacement substitutes in
        out = v.decode("utf-8", errors="replace")
        return out if r == "�" else out.replace("�", r)

    return pd.Series([one(v, r) for v, r in zip(b, repl)])


@pandas_udf(StringType())
def presto_word_stem(s, lang):
    from prestodb_presto_spark.functions.strings import stem_one

    return pd.Series(
        [
            None if (v is None or lg is None) else stem_one(v, lg)
            for v, lg in zip(s, lang)
        ]
    )


def ensure_sql_support(spark) -> None:
    """Idempotently register every SQL-path helper UDF."""
    # Presto map_concat keeps the LAST occurrence of a duplicated key
    # (MapConcatFunction); Spark's default errors on duplicates
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    from prestodb_presto_spark.functions.regexp_fns import (
        ensure_sql_support as _regexp_support,
    )

    _regexp_support(spark)

    spark.udf.register("__presto_normalize", presto_normalize)
    spark.udf.register("__presto_from_utf8", presto_from_utf8)
    spark.udf.register("__presto_word_stem", presto_word_stem)

    @pandas_udf("string")
    def __presto_ipaddress(s):
        import ipaddress

        def one(v):
            if v is None:
                return None
            if isinstance(v, (bytes, bytearray)):
                a = ipaddress.ip_address(bytes(v))
            else:
                a = ipaddress.ip_address(v)
            # Presto canonicalizes (IpAddressOperators.castFromVarchar):
            # IPv4-mapped IPv6 renders as dotted IPv4; IPv6 compresses
            # to the RFC 5952 form — Python's str() matches both
            if isinstance(a, ipaddress.IPv6Address) and a.ipv4_mapped:
                return str(a.ipv4_mapped)
            return str(a)

        return pd.Series([one(v) for v in s])

    spark.udf.register("__presto_ipaddress", __presto_ipaddress)

    @pandas_udf("string")
    def __presto_ipaddress_key(s):
        import ipaddress

        def one(v):
            if v is None:
                return None
            a = ipaddress.ip_address(
                bytes(v) if isinstance(v, (bytes, bytearray)) else v
            )
            # Presto compares IPADDRESS values on the 16-byte IPv6 form
            # (IpAddressOperators lessThan — IPv4 maps into ::ffff:0:0/96),
            # so the fixed-width hex expansion is an order-preserving key
            if isinstance(a, ipaddress.IPv4Address):
                a = ipaddress.IPv6Address(b"\x00" * 10 + b"\xff\xff" + a.packed)
            return a.packed.hex()

        return pd.Series([one(v) for v in s])

    spark.udf.register("__presto_ipaddress_key", __presto_ipaddress_key)

    # bit-exact approx_distinct / checksum / cardinality(approx_set(x))
    # — the native-plan parity forms the dialect emits; all aggregation
    # is JVM-native with map-side partials (functions/hll.py).  Only the
    # pandas UDFs that hash non-integer values register here; the JVM
    # session functions (integer hashes, estimator, checksum finish) are
    # created when a statement first uses them, so an Engine that never
    # calls the three aggregates pays nothing for them
    from prestodb_presto_spark.functions.hll import register_native_parity_support

    register_native_parity_support(spark)

    # airlift-wire-format HLL sketches: approx_set as a BINARY column,
    # merge()/cardinality() across query levels (the round-9 two-level
    # pipeline — functions/hll_sketch.py)
    from prestodb_presto_spark.functions.hll_sketch import register_sketch_support

    register_sketch_support(spark)
