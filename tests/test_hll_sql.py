"""approx_distinct, checksum and approx_set values through the SQL path,
pinned in the core suite.

tests/test_hll_parity.py holds the reference-parity sweep and runs only
with the slow suites; the values here are a few of its results, enough
that a change to the hash, the register encoding or the estimator fails
a default run.
"""

from __future__ import annotations

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
