"""The session functions translated SQL calls, and the one way to create them.

``_table`` maps each name ``dialect.translate`` emits and Spark lacks to
its pandas UDF (what has no Spark expression: Unicode normalization,
UTF-8 decoding with replacement, IPADDRESS, the non-integer HLL hashes,
the sketch finishers) or to its SQL function (functions/hll.py).
``ensure(spark, text)`` creates the ones a text calls on first use, for
Engine.sql, ddl.create_view, the DataFrame builders and
``_util.session_fn``, as Presto resolves every function through one
FunctionRegistry.  The pandas UDFs are the registry's documented slow
tier; no relational catalog query calls one (tests/test_plans.py).

References: presto-main/.../scalar/StringFunctions.java (normalize,
fromUtf8), IpAddressOperators.java.
"""

from __future__ import annotations

import functools
import re
from contextlib import ExitStack

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from prestodb_presto_spark.functions._util import session_conf


# P.normalize and P.from_utf8 call these through their session functions
# (templates.py) and strings.word_stem calls its UDF directly, so both
# paths run the same code.
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


def _ip(v):
    import ipaddress

    return ipaddress.ip_address(bytes(v) if isinstance(v, (bytes, bytearray)) else v)


@pandas_udf(StringType())
def presto_ipaddress(s):
    import ipaddress

    def one(v):
        if v is None:
            return None
        a = _ip(v)
        # Presto canonicalizes (IpAddressOperators.castFromVarchar):
        # IPv4-mapped IPv6 renders as dotted IPv4; IPv6 compresses
        # to the RFC 5952 form — Python's str() matches both
        if isinstance(a, ipaddress.IPv6Address) and a.ipv4_mapped:
            return str(a.ipv4_mapped)
        return str(a)

    return pd.Series([one(v) for v in s])


@pandas_udf(StringType())
def presto_ipaddress_key(s):
    import ipaddress

    def one(v):
        if v is None:
            return None
        a = _ip(v)
        # Presto compares IPADDRESS values on the 16-byte IPv6 form
        # (IpAddressOperators lessThan — IPv4 maps into ::ffff:0:0/96),
        # so the fixed-width hex expansion is an order-preserving key
        if isinstance(a, ipaddress.IPv4Address):
            a = ipaddress.IPv6Address(b"\x00" * 10 + b"\xff\xff" + a.packed)
        return a.packed.hex()

    return pd.Series([one(v) for v in s])


@functools.cache
def _table() -> dict:
    """name -> its pandas UDF, or name -> (params, returns, body, confs)
    of a SQL function, created under the SQL confs ``confs``.  A body
    calls only names before it.  Built on first call, so importing this
    module (strings.py does) loads neither HLL module."""
    from prestodb_presto_spark.functions import hll, hll_sketch
    from prestodb_presto_spark.functions.regexp_fns import presto_regexp_parts

    # the airlift hashes wrap BIGINT * and + like Java longs, which the
    # functions keep when an ANSI query calls them
    ansi_off = {"spark.sql.ansi.enabled": "false"}
    return {
        "__presto_normalize": presto_normalize,
        "__presto_from_utf8": presto_from_utf8,
        "__presto_word_stem": presto_word_stem,
        "__presto_regexp_parts": presto_regexp_parts,
        "__presto_ipaddress": presto_ipaddress,
        "__presto_ipaddress_key": presto_ipaddress_key,
        "presto_hll_hash": hll.presto_hll_hash,
        "presto_hll_hash_m3": hll.presto_hll_hash_m3,
        "presto_checksum_row": hll.presto_checksum_row,
        "presto_hll_card_scalar": hll_sketch.presto_hll_card_scalar,
        "presto_hll_force_dense": hll_sketch.presto_hll_force_dense,
        "presto_hll_merge_finish": hll_sketch.presto_hll_merge_finish,
        "presto_hll_merge_card_finish": hll_sketch.presto_hll_merge_card_finish,
        "presto_hll_pack": hll_sketch.presto_hll_pack,
        **{
            name: (*fn, ansi_off)
            for name, fn in hll.session_fn_defs().items()
        },
    }


_NAME = re.compile(r"\b(?:__presto_\w+|presto_hll_\w+|presto_checksum_row)")


def ensure(spark, text: str) -> None:
    """Create in ``spark`` the table's functions that the SQL text
    ``text`` calls, with the ones their bodies call, where they are
    missing."""
    names = set(_NAME.findall(text))
    if not names:
        return
    fns = _table()
    needed = {n for n in names if n in fns}
    for name in reversed(fns):
        if name in needed and isinstance(fns[name], tuple):
            needed.update(n for n in _NAME.findall(fns[name][2]) if n in fns)
    for name, fn in fns.items():
        if name not in needed or spark.catalog.functionExists(name):
            continue
        if isinstance(fn, tuple):
            create(spark, name, *fn)
        else:
            spark.udf.register(name, fn)


def create(spark, name: str, params: str, returns: str, body: str, confs: dict) -> None:
    """Create the temporary SQL function ``name`` with the session's SQL
    confs set to ``confs``; Spark keeps the confs a function was created
    under.  The session's values come back after, also when the creation
    fails.  OR REPLACE: two threads may both have found it missing; the
    body is the same."""
    with ExitStack() as stack:
        for key, value in confs.items():
            stack.enter_context(session_conf(spark, key, value))
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params})"
            f" RETURNS {returns} RETURN {body}"
        )
