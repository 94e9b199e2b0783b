"""Bit-exact approx_distinct parity vs the reference's airlift-HLL values.

Every testApproximateCountDistinct assertion from
presto-tests/.../AbstractTestAggregations.java (scraped live) must
reproduce the airlift-HyperLogLog estimate EXACTLY through
functions/hll.py, plus the three GROUP BY values the reference pins in
testApproximateCountDistinctGroupBy.  Also checks the public XXH64 test
vectors.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.abstract_queries_scrape import scrape
from tests.test_reference_abstract_queries import aq_env  # noqa: F401 — fixture

# r14 (VERDICT #6): golden/fuzz suite — excluded from the default
# driver-window run; see pytest.ini (HLL++ golden parity sweep (~45 s)).
pytestmark = pytest.mark.slow


def test_xxh64_spec_vectors():
    """Public xxHash spec vectors (seed 0)."""
    from prestodb_presto_spark.functions.hll import xxh64_bytes, xxh64_u64

    assert xxh64_bytes(b"") == 0xEF46DB3751D8E999
    # the 8-byte vectorized path agrees with the general path
    for v in (0, 1, -1, 123456789, 2**62, -(2**40)):
        u = np.asarray([v], dtype=np.int64)
        assert int(xxh64_u64(u)[0]) == xxh64_bytes(
            (v & ((1 << 64) - 1)).to_bytes(8, "little")
        ), v
    # >=32-byte stripe path is exercised by long strings; sanity: stable
    assert xxh64_bytes(b"a" * 40) == xxh64_bytes(b"a" * 40)


def test_reference_approx_distinct_assertions_exact(aq_env):
    """All scraped testApproximateCountDistinct cases: our value == the
    airlift value the reference asserts (engine SQL path)."""
    engine, _fresh = aq_env
    cases = [
        (k, actual, expected)
        for _f, method, k, kind, actual, expected in scrape()
        if method == "testApproximateCountDistinct"
    ]
    assert len(cases) >= 29, len(cases)
    bad = []
    for k, actual, expected in cases:
        want = int(expected.upper().replace("SELECT", "").strip())
        got = engine.sql(actual, dialect="presto").collect()[0][0]
        if got != want:
            bad.append(f"[{k}] {actual[:80]}: {got} != {want}")
    assert not bad, bad


def test_reference_approx_distinct_group_by(aq_env):
    """testApproximateCountDistinctGroupBy[WithStandardError]: the
    reference pins O=990, F=990, P=303 (AbstractTestAggregations.java);
    the global estimate over orderdate is 2443."""
    engine, _fresh = aq_env
    for sql in (
        "SELECT orderstatus, approx_distinct(custkey) FROM orders GROUP BY orderstatus",
        "SELECT orderstatus, approx_distinct(custkey, 0.023) FROM orders GROUP BY orderstatus",
    ):
        rows = {r[0]: r[1] for r in engine.sql(sql, dialect="presto").collect()}
        assert rows == {"O": 990, "F": 990, "P": 303}, rows
    got = engine.sql(
        "SELECT approx_distinct(orderdate) FROM orders", dialect="presto"
    ).collect()
    assert [tuple(r) for r in got] == [(2443,)], got


def test_hll_empty_and_nulls(aq_env):
    """NULL inputs are skipped (Presto input-function semantics); an
    all-NULL input and a global aggregation over EMPTY input both
    estimate 0, one row, as in Presto."""
    engine, _fresh = aq_env

    def run(sql):
        return engine.sql(sql, dialect="presto").collect()

    assert run("SELECT approx_distinct(x) FROM (VALUES 1, NULL, 2, 1) t(x)")[0][0] == 2
    assert (
        run("SELECT approx_distinct(x) FROM (VALUES CAST(NULL AS BIGINT)) t(x)")[0][0]
        == 0
    )
    assert [tuple(r) for r in run(
        "SELECT approx_distinct(custkey) FROM orders WHERE orderkey < 0"
    )] == [(0,)]


def test_checksum_parity_formula(aq_env):
    """presto_checksum == ChecksumAggregationFunction: the wrapping
    64-bit sum of Type.hash(value) * PRIME64 (+PRIME64 per NULL),
    independently re-derived here per the reference sources
    (AbstractLongType.hash:130 mix, ShortDecimalType.hash:89 raw,
    BooleanType.hash:100, block slice xxh64), rendered LE."""
    from prestodb_presto_spark.functions.hll import xxh64_bytes

    engine, _fresh = aq_env
    P1, P2, M = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, (1 << 64) - 1

    def mix(v):
        t = (v * P2) & M
        t = ((t << 31) | (t >> 33)) & M
        return (t * P1) & M

    def le(total):
        return (total & M).to_bytes(8, "little").hex().upper()

    def run(sql):
        return engine.sql(sql, dialect="presto").collect()[0][0]

    # the reference's own frozen assertion
    assert run("SELECT to_hex(checksum(0))") == "0000000000000000"
    # ints with NULL (+ the pandas float-upcast trap)
    want = le(sum(mix(v) * P1 for v in (1, 2, 3)) + P1)
    assert run("SELECT to_hex(checksum(x)) FROM (VALUES 1, 2, NULL, 3) t(x)") == want
    # varchar
    want = le(xxh64_bytes(b"a") * P1 + xxh64_bytes(b"bc") * P1)
    assert run("SELECT to_hex(checksum(x)) FROM (VALUES 'a', 'bc') t(x)") == want
    # boolean 1231/1237
    want = le(1231 * P1 + 1237 * P1)
    assert run("SELECT to_hex(checksum(x)) FROM (VALUES true, false) t(x)") == want
    # short decimal hashes the RAW unscaled long
    want = le(sum((u * P1) & M for u in (150, 250)))
    assert (
        run("SELECT to_hex(checksum(CAST(x AS DECIMAL(9,2)))) FROM (VALUES 1.5, 2.5) t(x)")
        == want
    )
    # long decimal: xxh64(low) ^ xxh64(high), sign-stripped
    tot = 0
    for x in (3, 7):
        raw = x * 10**20
        h = xxh64_bytes((raw & M).to_bytes(8, "little")) ^ xxh64_bytes(
            (raw >> 64).to_bytes(8, "little")
        )
        tot = (tot + h * P1) & M
    assert (
        run("SELECT to_hex(checksum(CAST(x AS DECIMAL(25,20)))) FROM (VALUES 3, 7) t(x)")
        == le(tot)
    )
    # order independence over real data
    a = run("SELECT to_hex(checksum(custkey)) FROM orders")
    b = run("SELECT to_hex(checksum(custkey)) FROM (SELECT custkey FROM orders ORDER BY orderkey DESC) t")
    assert a == b


def test_review_r7_nan_is_a_value_not_null(aq_env):
    """Presto treats NaN as a VALUE (hash of the canonical NaN bits) and
    NULL as absence; the IS NULL indicator column keeps them apart
    through pandas' NaN conflation."""
    engine, _fresh = aq_env
    P1, M = 0x9E3779B185EBCA87, (1 << 64) - 1

    def mix(v):
        t = (v * 0xC2B2AE3D27D4EB4F) & M
        t = ((t << 31) | (t >> 33)) & M
        return (t * P1) & M

    got = engine.sql(
        "SELECT to_hex(checksum(x)) FROM (VALUES nan(), CAST(NULL AS DOUBLE)) t(x)",
        dialect="presto",
    ).collect()[0][0]
    import struct

    bits_one = 0x7FF8000000000000  # Java canonical NaN
    want = ((mix(bits_one) * P1 + P1) & M).to_bytes(8, "little").hex().upper()
    assert got == want, (got, want)
    # approx_distinct: NaN counts, NULL doesn't
    n = engine.sql(
        "SELECT approx_distinct(x) FROM (VALUES nan(), CAST(NULL AS DOUBLE), 1.0e0) t(x)",
        dialect="presto",
    ).collect()[0][0]
    assert n == 2, n


def test_review_r7_negative_long_decimal_sign_magnitude(aq_env):
    """XX_HASH_64 of a long decimal hashes the sign-magnitude packed
    slice (|v| LE + sign flag bit 127), not two's complement — so -x and
    x hash DIFFERENTLY in approx_distinct."""
    engine, _fresh = aq_env
    n = engine.sql(
        "SELECT approx_distinct(CAST(x AS DECIMAL(25,20)))"
        " FROM (VALUES 3, -3, 7) t(x)",
        dialect="presto",
    ).collect()[0][0]
    assert n == 3, n


def test_review_r7_mix_guard_spark_side_aggregates(aq_env):
    """Aggregates only visible under their SPARK names after earlier
    rewrites (percentile_approx from approx_percentile, max_by) must
    still trip the parity-UDAF mix guard — the query runs instead of
    raising INVALID_PANDAS_UDF_PLACEMENT."""
    engine, _fresh = aq_env
    row = engine.sql(
        "SELECT approx_distinct(custkey), approx_percentile(totalprice, 0.5),"
        " max_by(orderkey, totalprice) FROM orders",
        dialect="presto",
    ).collect()[0]
    assert row[0] > 0 and row[1] is not None
    # derived-table aggregates do NOT trip the guard (inner scope)
    n = engine.sql(
        "SELECT approx_distinct(x) FROM"
        " (SELECT sum(custkey) AS x FROM orders GROUP BY orderstatus) t",
        dialect="presto",
    ).collect()[0][0]
    assert n == 3, n


def _physical_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def test_r8_native_plan_shape(aq_env):
    """The dialect path of ``SELECT k, approx_distinct(x) .. GROUP BY k``
    must be the native two-phase plan: JVM partial aggregation (partial
    collect_list of the distinct packed (bucket, rho) registers +
    count(DISTINCT prefix26)), never an
    AggregateInPandas that materializes a group's raw values in one
    Python worker.  Over an integer column the hash and the estimator
    are JVM session functions, so the plan has no Python at all; over a
    varchar column the one Python step is the row hash, a scalar
    ArrowEvalPython.  checksum and cardinality(approx_set(x)) alike."""
    engine, _fresh = aq_env
    aggs = ("approx_distinct({})", "checksum({})", "cardinality(approx_set({}))")
    for column, python_steps in (("custkey", 0), ("orderstatus", 1)):
        for agg in aggs:
            plan = _physical_plan(
                engine.sql(
                    f"SELECT orderpriority, {agg.format(column)} FROM orders"
                    " GROUP BY orderpriority",
                    dialect="presto",
                )
            )
            assert "AggregateInPandas" not in plan, plan
            assert "FlatMapGroupsInPandas" not in plan, plan
            assert plan.count("ArrowEvalPython") == python_steps, (agg, column, plan)
            if agg.startswith("checksum"):
                assert "partial_sum" in plan, plan
            else:
                assert "partial_collect_list" in plan, plan
                assert "distinct" in plan.lower(), plan


def test_r8_parity_in_mixed_aggregations(aq_env):
    """approx_distinct / checksum mixed with JVM aggregates in one query
    level now keep PARITY values (the round-7 documented deviation —
    'mixed keeps Spark's native estimator' — is closed: the native
    forms ARE JVM aggregates and plan into the same Aggregate)."""
    engine, _fresh = aq_env
    rows = {
        r[0]: (r[1], r[2])
        for r in engine.sql(
            "SELECT orderstatus, approx_distinct(custkey), count(*)"
            " FROM orders GROUP BY orderstatus",
            dialect="presto",
        ).collect()
    }
    assert {k: v[0] for k, v in rows.items()} == {"O": 990, "F": 990, "P": 303}
    solo = engine.sql(
        "SELECT to_hex(checksum(custkey)) FROM orders", dialect="presto"
    ).collect()[0][0]
    mixed = engine.sql(
        "SELECT to_hex(checksum(custkey)), sum(totalprice), count(*)"
        " FROM orders",
        dialect="presto",
    ).collect()[0]
    assert mixed[0] == solo and mixed[2] > 0
    # cardinality(approx_set(..)) mixed keeps its p=12 parity value too
    row = engine.sql(
        "SELECT cardinality(approx_set(custkey)), count(*) FROM orders",
        dialect="presto",
    ).collect()[0]
    assert row[0] == 1002, row


def test_r8_windowed_checksum_parity(aq_env):
    """checksum(x) OVER (..) is parity VARBINARY now (each 32-bit
    half-sum carries the window clause) — the round-7 BIGINT md5-XOR
    wart for windowed checksum is gone; per-partition values equal the
    GROUP BY parity values."""
    engine, _fresh = aq_env
    windowed = {
        r[0]: r[1]
        for r in engine.sql(
            "SELECT DISTINCT orderstatus,"
            " to_hex(checksum(custkey) OVER (PARTITION BY orderstatus))"
            " FROM orders",
            dialect="presto",
        ).collect()
    }
    grouped = {
        r[0]: r[1]
        for r in engine.sql(
            "SELECT orderstatus, to_hex(checksum(custkey)) FROM orders"
            " GROUP BY orderstatus",
            dialect="presto",
        ).collect()
    }
    assert windowed == grouped, (windowed, grouped)


def test_approx_set_cardinality_reference_values(aq_env):
    """testApproxSet* (AbstractTestQueries.java:6970-7090, computeActual
    style so not scrape-gated): cardinality(approx_set(x)) reproduces
    airlift's p=12 Murmur3-fed HLL values exactly."""
    engine, _fresh = aq_env

    def run(sql):
        return engine.sql(sql, dialect="presto").collect()

    assert run("SELECT cardinality(approx_set(custkey)) FROM orders")[0][0] == 1002
    assert (
        run("SELECT cardinality(approx_set(CAST(custkey AS VARCHAR))) FROM orders")[0][0]
        == 1024
    )
    assert (
        run("SELECT cardinality(approx_set(CAST(custkey AS DOUBLE))) FROM orders")[0][0]
        == 1014
    )
    got = {
        r[0]: r[1]
        for r in run(
            "SELECT orderstatus, cardinality(approx_set(custkey))"
            " FROM orders GROUP BY orderstatus"
        )
    }
    assert got == {"O": 1001, "F": 998, "P": 304}, got
    got = {
        r[0]: r[1]
        for r in run(
            "SELECT orderstatus, cardinality(approx_set(CAST(custkey AS VARCHAR)))"
            " FROM orders GROUP BY orderstatus"
        )
    }
    assert got == {"O": 1021, "F": 1019, "P": 304}, got
    got = {
        r[0]: r[1]
        for r in run(
            "SELECT orderstatus, cardinality(approx_set(CAST(custkey AS DOUBLE)))"
            " FROM orders GROUP BY orderstatus"
        )
    }
    assert got == {"O": 1011, "F": 1011, "P": 304}, got
    # NULLs are skipped; an all-NULL input yields NULL (not 0)
    assert (
        run(
            "SELECT cardinality(approx_set(IF(orderstatus = 'O', custkey))) FROM orders"
        )[0][0]
        == 1001
    )
    assert run("SELECT cardinality(approx_set(null)) FROM orders")[0][0] is None


# --------------------------------------------------------------- round 9
# Airlift-wire-format sketch serialization: approx_set as a BINARY
# column, merge()/cardinality() across query levels — the last
# reference-semantics boundary (functions/hll_sketch.py).


def test_merge_hll_reference_values(aq_env):
    """testMergeHyperLogLog* (AbstractTestQueries.java:7117-7215,
    computeActual style so not scrape-gated): per-row singleton sketches
    (create_hll), merge over sketch expressions, the empty-sketch
    identity, and NULL propagation — every pinned value exact."""
    engine, _fresh = aq_env

    def run(sql):
        return engine.sql(sql, dialect="presto").collect()

    assert (
        run("SELECT cardinality(merge(create_hll(custkey))) FROM orders")[0][0]
        == 1002
    )
    got = {
        r[0]: r[1]
        for r in run(
            "SELECT orderstatus, cardinality(merge(create_hll(custkey)))"
            " FROM orders GROUP BY orderstatus"
        )
    }
    assert got == {"O": 1001, "F": 998, "P": 304}, got
    assert (
        run(
            "SELECT cardinality(merge(create_hll(IF(orderstatus = 'O',"
            " custkey)))) FROM orders"
        )[0][0]
        == 1001
    )
    got = {
        r[0]: r[1]
        for r in run(
            "SELECT orderstatus, cardinality(merge(create_hll("
            "IF(orderstatus != 'O', custkey)))) FROM orders"
            " GROUP BY orderstatus"
        )
    }
    assert got == {"O": None, "F": 998, "P": 304}, got
    assert run("SELECT cardinality(merge(null)) FROM orders")[0][0] is None
    assert run("SELECT cardinality(empty_approx_set())")[0][0] == 0
    assert (
        run("SELECT cardinality(merge(empty_approx_set())) FROM orders")[0][0]
        == 0
    )
    # testMergeEmptyNonEmptyApproxSet
    assert (
        run(
            "SELECT cardinality(merge(c)) FROM (SELECT create_hll(custkey) c"
            " FROM orders UNION ALL SELECT empty_approx_set())"
        )[0][0]
        == 1002
    )


def test_p4_approx_set_reference_values(aq_env):
    """testP4ApproxSet* (AbstractTestQueries.java:7215-7330): CAST(.. AS
    P4HYPERLOGLOG) forces the dense representation — its estimates
    diverge from the sparse ones exactly where the reference says they
    do (P group: 308 dense vs 304 sparse for bigint; 302 vs 304 for
    varchar)."""
    engine, _fresh = aq_env

    def run(sql):
        return engine.sql(sql, dialect="presto").collect()

    assert (
        run(
            "SELECT cardinality(cast(approx_set(custkey) AS P4HYPERLOGLOG))"
            " FROM orders"
        )[0][0]
        == 1002
    )
    assert (
        run(
            "SELECT cardinality(cast(approx_set(CAST(custkey AS VARCHAR))"
            " AS P4HYPERLOGLOG)) FROM orders"
        )[0][0]
        == 1024
    )
    assert (
        run(
            "SELECT cardinality(cast(approx_set(CAST(custkey AS DOUBLE))"
            " AS P4HYPERLOGLOG)) FROM orders"
        )[0][0]
        == 1014
    )
    for cast_expr, want in (
        ("custkey", {"O": 1001, "F": 998, "P": 308}),
        ("CAST(custkey AS VARCHAR)", {"O": 1021, "F": 1019, "P": 302}),
        ("CAST(custkey AS DOUBLE)", {"O": 1011, "F": 1011, "P": 306}),
    ):
        got = {
            r[0]: r[1]
            for r in run(
                f"SELECT orderstatus, cardinality(cast(approx_set({cast_expr})"
                " AS P4HYPERLOGLOG)) FROM orders GROUP BY orderstatus"
            )
        }
        assert got == want, (cast_expr, got)
    assert (
        run(
            "SELECT cardinality(cast(approx_set(IF(orderstatus = 'O',"
            " custkey)) AS P4HYPERLOGLOG)) FROM orders"
        )[0][0]
        == 1001
    )
    assert (
        run(
            "SELECT cardinality(cast(approx_set(null) AS P4HYPERLOGLOG))"
            " FROM orders"
        )[0][0]
        is None
    )


def test_two_level_sketch_pipeline(aq_env, tmp_path):
    """The canonical Presto rollup: CTAS per-(key, day) sketches to
    parquet, merge them per key in a LATER query — merged cardinalities
    BIT-EXACT to the single-level plan on the same data (same
    sparse/dense cutoff, same estimator, airlift wire format through
    storage)."""
    engine, _fresh = aq_env
    spark = engine.spark

    sk = engine.sql(
        "SELECT orderstatus, custkey % 8 AS day, approx_set(custkey) AS s"
        " FROM orders GROUP BY orderstatus, custkey % 8",
        dialect="presto",
    )
    path = str(tmp_path / "daily_sketches")
    sk.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("daily_sketches_r9")
    got = {
        r[0]: r[1]
        for r in engine.sql(
            "SELECT orderstatus, cardinality(merge(s)) FROM daily_sketches_r9"
            " GROUP BY orderstatus",
            dialect="presto",
        ).collect()
    }
    # == the single-level approx_set values (pinned above)
    assert got == {"O": 1001, "F": 998, "P": 304}, got
    assert (
        engine.sql(
            "SELECT cardinality(merge(s)) FROM daily_sketches_r9",
            dialect="presto",
        ).collect()[0][0]
        == 1002
    )
    # merge() mixes with JVM aggregates in one level (collect_list is a
    # JVM aggregate; only the finisher is a scalar pandas UDF)
    row = engine.sql(
        "SELECT cardinality(merge(s)) AS c, count(*) AS n"
        " FROM daily_sketches_r9",
        dialect="presto",
    ).collect()[0]
    assert row[0] == 1002 and row[1] == 24, row
    # empty inner level → NULL sketch → NULL cardinality, count 1
    row = engine.sql(
        "SELECT cardinality(merge(s)) AS c, count(*) AS n FROM"
        " (SELECT approx_set(custkey) AS s FROM orders WHERE orderkey < 0) t",
        dialect="presto",
    ).collect()[0]
    assert row[0] is None and row[1] == 1, row


def test_nested_aggregation_error(aq_env):
    """Error parity (AggregationAnalyzer.java:324): the single-level
    nested spelling merge(approx_set(x)) is invalid upstream and must
    raise, not silently lower (round-8 ADVICE)."""
    engine, _fresh = aq_env
    for sql in (
        "SELECT cardinality(merge(approx_set(custkey))) FROM orders",
        "SELECT merge(approx_set(custkey)) FROM orders",
        "SELECT orderstatus, cardinality(merge(approx_set(custkey)))"
        " FROM orders GROUP BY orderstatus",
    ):
        with pytest.raises(ValueError, match="Cannot nest aggregations"):
            engine.sql(sql, dialect="presto")


def test_sketch_wire_format_and_merge_properties():
    """Pure serialization layer: airlift SPARSE_V2/DENSE_V2 structure,
    round-trips, the sparse→dense conversion identity, and
    merge-vs-single-pass bit-exactness across the cutoff."""
    from prestodb_presto_spark.functions import hll_sketch as hs
    from prestodb_presto_spark.functions.hll import (
        APPROX_SET_P,
        hll_cardinality,
        murmur3_64_u64,
    )

    rng = np.random.default_rng(9)
    for n in (1, 7, 300, 511, 512, 513, 600, 5000, 60000):
        vals = rng.choice(10**9, size=n, replace=False).astype(np.int64)
        hashes = murmur3_64_u64(vals)
        single = hll_cardinality(hashes, APPROX_SET_P)
        ent = hs.entries_from_hashes(hashes)
        b = hs.serialize_from_entries(ent, APPROX_SET_P)
        # format header: tag + indexBitLength
        assert b[1] == APPROX_SET_P
        if len(ent) <= hs.sparse_cutoff(APPROX_SET_P):
            assert b[0] == hs.TAG_SPARSE_V2
            assert len(b) == 4 + 4 * len(ent)
        else:
            assert b[0] == hs.TAG_DENSE_V2
            assert len(b) >= 3 + (1 << APPROX_SET_P) // 2 + 2
        # estimate through the wire == the in-memory single pass
        assert hs.cardinality_serialized(b) == single, n
        # round-trip
        kind, p, payload = hs.deserialize(b)
        b2 = (
            hs.serialize_sparse(payload, p)
            if kind == "sparse"
            else hs.serialize_dense(payload, p)
        )
        assert b2 == b, n
        # split into 7 shards, serialize each, merge: bit-exact
        shards = [hashes[i::7] for i in range(7)]
        sks = [
            hs.serialize_from_entries(hs.entries_from_hashes(c), APPROX_SET_P)
            for c in shards
        ]
        merged = hs.merge_serialized(sks + [None, hs.empty_sketch()])
        assert hs.cardinality_serialized(merged) == single, n
        # merge is associative/idempotent: re-merging the merged sketch
        # with a shard changes nothing
        again = hs.merge_serialized([merged, sks[0]])
        assert again == merged, n
    # sparse→dense conversion identity: forcing dense then estimating
    # equals building the register file from raw hashes
    vals = rng.choice(10**9, size=400, replace=False).astype(np.int64)
    hashes = murmur3_64_u64(vals)
    ent = hs.entries_from_hashes(hashes)
    sparse_b = hs.serialize_sparse(ent, APPROX_SET_P)
    dense_b = hs.force_dense(sparse_b)
    kind, p, regs = hs.deserialize(dense_b)
    assert kind == "dense"
    direct = hs.sparse_to_regs(ent, APPROX_SET_P)
    assert np.array_equal(regs, direct)
    # p-mismatch fails loud
    with pytest.raises(ValueError, match="different index bit"):
        hs.merge_serialized(
            [hs.empty_sketch(12), hs.serialize_sparse(np.empty(0, np.uint32), 11)]
        )


def test_sketch_scale_twins_plan_shape(aq_env):
    """approx_set_by_group / merge_cardinality_by_group — the 100 TB
    forms: values bit-exact to the SQL path, plans free of pandas
    GROUPED_AGG (AggregateInPandas) anywhere, merge state bounded by
    the inner groupBy(keys, prefix26) / explode re-aggregation."""
    from pyspark.sql import functions as F

    from prestodb_presto_spark.functions.hll_sketch import (
        approx_set_by_group,
        merge_cardinality_by_group,
    )

    engine, _fresh = aq_env
    orders = engine.spark.table("orders")
    sk = approx_set_by_group(
        orders.withColumn("day", F.col("custkey") % 8),
        ["orderstatus", "day"],
        "custkey",
    )
    res = merge_cardinality_by_group(sk, ["orderstatus"], "sketch")
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "AggregateInPandas" not in plan, plan[:800]
    got = {r[0]: r[1] for r in res.collect()}
    assert got == {"O": 1001, "F": 998, "P": 304}, got
    # all-NULL sketch group → NULL cardinality (kept, not dropped)
    emp = merge_cardinality_by_group(
        engine.spark.createDataFrame(
            [("a", None), ("a", None)], "k string, s binary"
        ),
        ["k"],
        "s",
    ).collect()
    assert len(emp) == 1 and emp[0][1] is None, emp


def test_hll_bias_regime_regression_pins(aq_env):
    """Round-7 ADVICE carry-over: cardinalities landing in the p=11
    bias-correction window (raw estimate between the linear-counting
    threshold 1800 and 5m=10240, where the interpolated bias table and
    its ±1 rounding live).  The engine's estimates over deterministic
    synthetic inputs are pinned as regression floors, bounding the
    documented bias-interpolation caveat by tests rather than prose."""
    engine, _fresh = aq_env
    spark = engine.spark
    pins = {}
    for n in (2000, 2500, 3200, 4000, 5000, 6500, 8000, 10000):
        spark.range(1, n + 1).selectExpr(
            "id * 2654435761 % 1000000007 AS v"
        ).createOrReplaceTempView("bias_probe_r9")
        got = engine.sql(
            "SELECT approx_distinct(v) FROM bias_probe_r9", dialect="presto"
        ).collect()[0][0]
        pins[n] = got
    # pinned engine outputs (p=11 airlift parity path): any change to
    # hashing, bucketing, the bias tables, or the interpolation scheme
    # shifts these and must be deliberate
    assert pins == {
        2000: 2004,
        2500: 2514,
        3200: 3269,
        4000: 4073,
        5000: 4983,
        6500: 6621,
        8000: 8106,
        10000: 10081,
    }, pins
    # sanity: every estimate is inside the 2.3% default-error envelope
    for n, est in pins.items():
        assert abs(est - n) / n < 3 * 0.023, (n, est)


def test_sql_merge_lowering_plan_shape(aq_env):
    """The SQL path's merge() must lower onto collect_list (a JVM
    aggregate — map-side combined, mixes with count/sum) + a scalar
    pandas finisher: NO pandas GROUPED_AGG (AggregateInPandas) anywhere,
    and the aggregation itself must be ObjectHashAggregate/SortAggregate
    over collect_list, never a per-group Python aggregation."""
    engine, _fresh = aq_env
    df = engine.sql(
        "SELECT orderstatus, cardinality(merge(s)) AS c, count(*) AS n"
        " FROM (SELECT orderstatus, custkey % 4 AS b,"
        " approx_set(custkey) AS s FROM orders"
        " GROUP BY orderstatus, custkey % 4) t GROUP BY orderstatus",
        dialect="presto",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AggregateInPandas" not in plan, plan[:800]
    assert "collect_list" in plan
    got = {r[0]: r[1] for r in df.collect()}
    assert got == {"O": 1001, "F": 998, "P": 304}, got


def test_windowed_merge_cardinality(aq_env):
    """cardinality(merge(s) OVER w) — the windowed sketch merge: the
    collect_list carries the window clause into the fused finisher,
    and per-partition values equal the grouped form bit-exactly."""
    engine, _fresh = aq_env
    rows = engine.sql(
        "SELECT DISTINCT orderstatus,"
        " cardinality(merge(s) OVER (PARTITION BY orderstatus)) AS c"
        " FROM (SELECT orderstatus, custkey % 4 AS b,"
        " approx_set(custkey) AS s FROM orders"
        " GROUP BY orderstatus, custkey % 4) t",
        dialect="presto",
    ).collect()
    assert {r[0]: r[1] for r in rows} == {"O": 1001, "F": 998, "P": 304}


def test_sketch_prefix_collision_keeps_max_value():
    """Two hashes sharing a 26-bit prefix must collapse to ONE sparse
    entry carrying the larger value (airlift keeps max per prefix), and
    the merged order must not matter."""
    import numpy as np

    from prestodb_presto_spark.functions import hll_sketch as hs

    # same top-26 bits, different low bits (one with a long zero run)
    h1 = np.uint64(0xABCDEF1234567890)
    base = int(h1) >> 38 << 38
    h2 = np.uint64(base | 0x1)          # low bits ~ zero → large value26
    h3 = np.uint64(base | (1 << 37))    # low bits start high → value26 = 1
    for order in ([h1], [h2], [h3], [h2, h3], [h3, h2]):
        ent = hs.entries_from_hashes(np.asarray(order, dtype=np.uint64))
        assert len(ent) == 1
    e_both = hs.entries_from_hashes(np.asarray([h2, h3], dtype=np.uint64))
    e_max = hs.entries_from_hashes(np.asarray([h2], dtype=np.uint64))
    assert np.array_equal(e_both, e_max)  # h2's larger value wins
    # merging the two singleton sketches == building from both hashes
    s2 = hs.serialize_from_entries(
        hs.entries_from_hashes(np.asarray([h2], dtype=np.uint64)), 12
    )
    s3 = hs.serialize_from_entries(
        hs.entries_from_hashes(np.asarray([h3], dtype=np.uint64)), 12
    )
    assert hs.merge_serialized([s2, s3]) == hs.serialize_from_entries(e_both, 12)


def test_stored_dense_sketch_pipeline(aq_env):
    """Standalone CAST(approx_set(x) AS P4HYPERLOGLOG) stores a DENSE
    sketch (airlift makeDense); merging stored dense sketches later
    yields the P4 values (P group 308, not the sparse 304) — dense-ness
    survives storage and merge, as in airlift (dense + anything =
    dense)."""
    engine, _fresh = aq_env
    from prestodb_presto_spark.dialect import translate

    o = translate(
        "SELECT cast(approx_set(custkey) AS P4HYPERLOGLOG) AS s FROM orders"
    )
    assert "presto_hll_force_dense" in o and "P4HYPER" not in o
    assert translate(o) == o  # idempotent
    engine.sql(
        "SELECT orderstatus, custkey % 4 AS b,"
        " cast(approx_set(custkey) AS P4HYPERLOGLOG) AS s FROM orders"
        " GROUP BY orderstatus, custkey % 4",
        dialect="presto",
    ).createOrReplaceTempView("dense_sketches_r9")
    got = {
        r[0]: r[1]
        for r in engine.sql(
            "SELECT orderstatus, cardinality(merge(s)) FROM dense_sketches_r9"
            " GROUP BY orderstatus",
            dialect="presto",
        ).collect()
    }
    assert got == {"O": 1001, "F": 998, "P": 308}, got
