"""approx_distinct, checksum and approx_set values through the SQL path,
pinned in the core suite.

tests/test_hll_parity.py holds the reference-parity sweep and runs only
with the slow suites; the values here are a few of its results, enough
that a change to the hash, the register encoding or the estimator fails
a default run.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.test_reference_abstract_queries import aq_env  # noqa: F401 — fixture

# (statement, value of its single cell); the checksum values are the
# ChecksumAggregationFunction formula that test_hll_parity.py re-derives
_SCALARS = [
    ("SELECT approx_distinct(orderdate) FROM orders", 2443),
    ("SELECT approx_distinct(x) FROM (VALUES 1, NULL, 2, 1) t(x)", 2),
    ("SELECT approx_distinct(x) FROM (VALUES CAST(NULL AS BIGINT)) t(x)", 0),
    ("SELECT to_hex(checksum(0))", "0000000000000000"),
    ("SELECT to_hex(checksum(x)) FROM (VALUES 1, 2, NULL, 3) t(x)", "5DD980A5F768D49C"),
    ("SELECT to_hex(checksum(x)) FROM (VALUES 'a', 'bc') t(x)", "2C7A5B2E000FD114"),
    ("SELECT to_hex(checksum(x)) FROM (VALUES true, false) t(x)", "7C7D2C156F33D14E"),
    (
        "SELECT to_hex(checksum(CAST(x AS DECIMAL(9,2)))) FROM (VALUES 1.5, 2.5) t(x)",
        "F0726C406125AE36",
    ),
    (
        "SELECT to_hex(checksum(CAST(x AS DECIMAL(25,20)))) FROM (VALUES 3, 7) t(x)",
        "26864836A882BA19",
    ),
    (
        "SELECT to_hex(checksum(x)) FROM (VALUES nan(), CAST(NULL AS DOUBLE)) t(x)",
        "87CA6FA9564C47C3",
    ),
]


def test_hll_and_checksum_values(aq_env):
    from prestodb_presto_spark.functions.hll_sketch import (
        approx_set_by_group,
        merge_cardinality_by_group,
    )

    engine, _fresh = aq_env
    got = {
        r[0]: r[1]
        for r in engine.sql(
            "SELECT orderstatus, approx_distinct(custkey) FROM orders GROUP BY orderstatus",
            dialect="presto",
        ).collect()
    }
    assert got == {"O": 990, "F": 990, "P": 303}, got
    for sql, want in _SCALARS:
        assert engine.sql(sql, dialect="presto").collect()[0][0] == want, sql
    orders = engine.spark.table("orders").withColumn("day", F.col("custkey") % 8)
    sketches = approx_set_by_group(orders, ["orderstatus", "day"], "custkey")
    got = {
        r[0]: r[1]
        for r in merge_cardinality_by_group(sketches, ["orderstatus"], "sketch").collect()
    }
    assert got == {"O": 1001, "F": 998, "P": 304}, got


_M64 = (1 << 64) - 1


def test_session_functions_match_numpy_reference(spark):
    """The JVM session functions against the numpy reference they
    replace: the three hashes and create_hll's one-entry sketch over
    seeded longs with the extremes, the checksum finish over DECIMAL
    totals past 2^64, and the estimator over seeded register sets at both
    precisions, on both sides of the sparse cutoff, with an empty
    sketch's NULL marker, and with the dense-only flag.  The estimator
    takes each register packed as bucket << 6 | rho, the reference its
    (bucket, rho) pair."""
    from prestodb_presto_spark.functions import hll
    from prestodb_presto_spark.functions.hll_sketch import singleton_sketch
    from prestodb_presto_spark.functions.sql_support import ensure

    ensure(spark, " ".join(hll.session_fn_defs()))
    rng = np.random.default_rng(11)
    longs = np.concatenate(
        [
            np.array([-(2**63), -1, 0, 2**63 - 1, 1, 2**31, -(2**31) - 1], dtype=np.int64),
            rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64),
        ]
    )
    rows = (
        spark.createDataFrame([(int(v),) for v in longs], "x bigint")
        .selectExpr(
            "x",
            "__presto_hll_xxh64(x)",
            "__presto_hll_checksum_row(x)",
            "__presto_hll_murmur3(x)",
            "__presto_hll_singleton(x)",
        )
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.int64)
    for col, want in (
        (1, hll.xxh64_u64(x)),
        (2, hll._mix64(x) * np.uint64(hll._PRIME64)),
        (3, hll.murmur3_64_u64(x)),
    ):
        got = np.array([r[col] for r in rows], dtype=np.int64).view(np.uint64)
        assert np.array_equal(got, want), col
    for r in rows:
        assert bytes(r[4]) == singleton_sketch(r[0] & _M64), r[0]

    totals = [0, 1, _M64, _M64 + 1, 3 * _M64 + 12345, 98765432109876543210123456789]
    finished = spark.createDataFrame([(str(v),) for v in totals], "v string").selectExpr(
        "__presto_hll_checksum_finish(CAST(v AS DECIMAL(38,0)))"
    ).collect()
    for v, r in zip(totals, finished):
        assert bytes(r[0]) == (v & _M64).to_bytes(8, "little"), v

    cases = []
    for p in (hll.P_BITS, hll.APPROX_SET_P):
        cut = hll.sparse_cutoff(p)
        for n in (1, cut, cut + 1, 1500, 4000, 30000):
            # n distinct 26-bit prefixes, random bits below them
            prefixes = rng.choice(1 << 26, size=n, replace=False).astype(np.uint64)
            low = rng.integers(0, 1 << 38, size=n, dtype=np.int64).astype(np.uint64)
            h = (prefixes << np.uint64(38)) | low
            entries = sorted(
                {(int(b), int(r)) for b, r in zip(h >> np.uint64(64 - p), hll.rho_of(h, p))}
            )
            for marker in (False, True):
                for dense in (False, True):
                    ent = entries + [(None, None)] if marker else entries
                    cases.append((p, n, ent, dense))
    df = spark.createDataFrame(
        [
            (i, p, n, [None if b is None else b << 6 | r for b, r in ent], dense)
            for i, (p, n, ent, dense) in enumerate(cases)
        ],
        "i int, p int, n bigint, e array<bigint>, dense boolean",
    )
    got = dict(df.selectExpr("i", "__presto_hll_estimate(p, n, e, dense)").collect())
    for i, (p, n, ent, dense) in enumerate(cases):
        assert got[i] == hll.estimate(p, n, ent, dense), (p, n, len(ent), dense)
    empty = spark.sql("SELECT __presto_hll_estimate(11, 0, array(), true)").collect()
    assert empty[0][0] is None


def test_session_functions_keep_ansi_and_belong_to_one_session(spark, monkeypatch):
    """The functions are created with ANSI off, which their wrapping
    arithmetic needs; the caller's session keeps ANSI on, also when a
    creation fails.  They are temporary, so each session creates its own
    when a statement or the DataFrame sketch path first calls them, and
    gets the same values.  An Engine creates none of the session
    functions; a statement creates the ones it calls.  The fixture's
    session is the active one again at the end."""
    from pyspark.errors import AnalysisException, ArithmeticException
    from pyspark.sql import SparkSession

    from prestodb_presto_spark.engine import Engine
    from prestodb_presto_spark.functions import sql_support

    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    try:
        lazy = spark.newSession()
        lazy_engine = Engine(lazy)
        names = list(sql_support._table())
        assert len(names) == 22
        assert not [n for n in names if lazy.catalog.functionExists(n)]
        assert lazy_engine.sql("SELECT normalize('abc')", dialect="presto").collect()[0][0] == "abc"
        assert lazy.catalog.functionExists("__presto_normalize")
        assert not lazy.catalog.functionExists("presto_hll_hash")

        ansi = "spark.sql.ansi.enabled"
        sql = (
            "SELECT approx_distinct(x), to_hex(checksum(x)), cardinality(approx_set(x))"
            " FROM (VALUES 1, 2, NULL, 3) t(x)"
        )
        want = (3, "5DD980A5F768D49C", 3)

        first = spark.newSession()
        assert first.conf.get(ansi) == "true"
        assert not first.catalog.functionExists("__presto_hll_estimate")
        assert tuple(Engine(first).sql(sql, dialect="presto").collect()[0]) == want
        assert first.catalog.functionExists("__presto_hll_xxh64_fin")
        assert first.conf.get(ansi) == "true"
        with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
            first.sql("SELECT 9223372036854775807L * 3L").collect()

        other = first.newSession()
        assert not other.catalog.functionExists("__presto_hll_xxh64")
        assert tuple(Engine(other).sql(sql, dialect="presto").collect()[0]) == want
        assert other.catalog.functionExists("__presto_hll_checksum_finish")

        # the DataFrame sketch path, in a session that never built an Engine
        from prestodb_presto_spark.functions.hll_sketch import (
            approx_set_by_group,
            merge_cardinality_by_group,
        )

        bare = spark.newSession()
        rows = bare.createDataFrame([("a", 1), ("a", 2), ("a", 2), ("b", 7)], "k string, v bigint")
        sketches = approx_set_by_group(rows, ["k"], "v")
        assert dict(merge_cardinality_by_group(sketches, ["k"], "sketch").collect()) == {"a": 2, "b": 1}

        broken = spark.newSession()
        monkeypatch.setattr(
            sql_support,
            "_table",
            lambda: {
                "__presto_hll_estimate": (
                    "p INT", "BIGINT", "no_such_function(p)", {ansi: "false"}
                )
            },
        )
        with pytest.raises(AnalysisException, match="no_such_function"):
            sql_support.ensure(broken, "SELECT __presto_hll_estimate(11)")
        assert broken.conf.get(ansi) == "true"
    finally:
        # createDataFrame made `bare` the active session; the builders
        # create their session functions in the active one
        SparkSession._activeSession = spark
        jsession.setActiveSession(spark._jsparkSession)
    assert SparkSession.active() is spark


def test_sketch_functions_reject_other_sketch_formats(aq_env):
    """merge and hll_cardinality read airlift sketches only: a Spark
    DataSketches buffer (hll_sketch_agg) raises a ValueError that names
    the format, where its header once read as a one-bit dense sketch and
    the overflow index ran out of bounds."""
    engine, _fresh = aq_env
    engine.spark.range(50).select(
        F.hll_sketch_agg(F.col("id")).alias("sk")
    ).createOrReplaceTempView("datasketches_hll")
    try:
        for sql in (
            "SELECT hll_cardinality(sk) FROM datasketches_hll",
            "SELECT cardinality(merge(sk)) FROM datasketches_hll",
        ):
            with pytest.raises(Exception, match="not an airlift HyperLogLog sketch"):
                engine.sql(sql, dialect="presto").collect()
    finally:
        engine.spark.catalog.dropTempView("datasketches_hll")
