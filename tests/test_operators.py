"""Skew-mitigation operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.operators import salted_groupby_count, salted_join

SF = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    plain = li.join(orders, "l_orderkey").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    salted = salted_join(li, orders, "l_orderkey", salt=4).agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    assert (plain.n, plain.q) == (salted.n, salted.q)


def test_salted_join_stays_a_shuffle_join(spark):
    """Salting spreads shuffle partitions, so it does nothing under a
    broadcast: the salted join is a shuffled hash join built on the
    replicated small side, whichever side the planner sizes smaller."""
    from prestodb_presto_spark.ddl import executed_operators

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    names = [name for _, name, _ in executed_operators(salted_join(li, orders, "l_orderkey"))]
    assert "ShuffledHashJoin" in names and "BroadcastHashJoin" not in names, names


def test_salted_left_join_keeps_unmatched(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    none = spark.createDataFrame([], "l_orderkey bigint, x int")
    out = salted_join(li, none, "l_orderkey", salt=4, how="left")
    assert out.count() == li.count()
    assert out.filter(F.col("x").isNotNull()).count() == 0


def test_salted_groupby_count(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plain = {r.l_returnflag: r.cnt for r in li.groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()}
    salted = {r.l_returnflag: r.cnt for r in salted_groupby_count(li, "l_returnflag", salt=4).collect()}
    assert plain == salted


def test_asof_join_tolerance_and_nulls(spark):
    from prestodb_presto_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00"), (3, "2023-01-01 00:00:00")],
        "id long, lts string",
    ).select("id", F.col("lts").cast("timestamp").alias("lts"), F.lit(1).alias("k"))
    right = spark.createDataFrame(
        [("2024-01-01 09:00:00", "a"), ("2024-01-01 11:30:00", "b")],
        "rts string, payload string",
    ).select(F.col("rts").cast("timestamp").alias("rts"), "payload", F.lit(1).alias("k"))

    out = {r.id: r.payload for r in asof_join(left, right, "k", "lts", "rts", ["payload"]).collect()}
    assert out == {1: "a", 2: "b", 3: None}  # 3 precedes all right rows

    tol = {
        r.id: r.payload
        for r in asof_join(left, right, "k", "lts", "rts", ["payload"], tolerance_seconds=1800).collect()
    }
    assert tol == {1: None, 2: "b", 3: None}  # id=1 is 1h stale > 30min tolerance


def test_bernoulli_sample_fraction_envelope(spark):
    """Random-seeded df.sample (SampleNode analog): sampled fraction lands
    within 6 sigma of p.  The gate's sample_bernoulli query uses a
    deterministic hash filter instead (engine-independent membership);
    this covers the rand()-based path."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    total = li.count()
    got = li.sample(fraction=0.2, seed=42).count()
    assert abs(got / total - 0.2) < 6 * (0.2 * 0.8 / total) ** 0.5


def test_asof_join_null_payload_not_mixed(spark):
    """When the latest preceding right row carries a NULL payload column,
    the result must take ALL columns from that row — not carry a stale
    non-null forward from an older row (single-struct carry)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00")], "id long, lts string"
    ).select("id", F.col("lts").cast("timestamp").alias("lts"), F.lit(1).alias("k"))
    right = spark.createDataFrame(
        [("2024-01-01 09:00:00", "old_a", "old_b"), ("2024-01-01 11:00:00", None, "new_b")],
        "rts string, a string, b string",
    ).select(F.col("rts").cast("timestamp").alias("rts"), "a", "b", F.lit(1).alias("k"))

    from prestodb_presto_spark.operators.asof import asof_join

    row = asof_join(left, right, "k", "lts", "rts", ["a", "b"]).collect()[0]
    assert row.b == "new_b" and row.a is None  # not old_a


def test_grid_spatial_join_matches_broadcast(spark):
    """Grid-bucketed spatial join == broadcast cross-join + filter, and
    the plan shuffles on the cell key (no cartesian, no broadcast of
    the polygon side required)."""
    from prestodb_presto_spark.functions import presto as P
    from prestodb_presto_spark.operators.spatial import grid_spatial_join

    polys = spark.createDataFrame(
        [(i, f"POLYGON ((0 0, {10*(i+1)} 0, 0 {10*(i+1)}, 0 0))") for i in range(5)],
        "pid int, wkt string",
    ).select("pid", P.st_polygon("wkt").alias("g"))
    pts = spark.range(500).select(
        P.st_point((F.col("id") % 37).cast("double"), (F.col("id") % 53).cast("double")).alias("p"),
        F.col("id").alias("pt_id"),
    )
    grid = grid_spatial_join(polys, pts, "g", "p", cell_size=8.0)
    got = sorted((r.pid, r.pt_id) for r in grid.collect())
    exp = sorted(
        (r.pid, r.pt_id)
        for r in polys.crossJoin(pts).filter(P.st_contains(F.col("g"), F.col("p"))).collect()
    )
    assert got == exp and len(exp) > 0
    plan = grid._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan


def test_drop_hot_buckets_equals_window_form(spark):
    """The algebraic hot-bucket guard must agree with the window form it
    replaced on every (bucket-size distribution, cap) combination —
    including caps nobody exceeds, caps everybody exceeds, multi-column
    keys, and NULL keys."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from prestodb_presto_spark.operators.skew import drop_hot_buckets

    df = spark.range(500).selectExpr(
        "id",
        "CAST(CASE WHEN id % 11 = 0 THEN NULL ELSE id % 7 END AS BIGINT) AS b1",
        "id % 3 AS b2",
    ).cache()
    for keys in (["b1"], ["b1", "b2"]):
        for cap in (1, 5, 40, 100, 1000):
            alg = {tuple(r) for r in drop_hot_buckets(df, keys, cap).collect()}
            win = {
                tuple(r)
                for r in df.withColumn(
                    "__c", F.count("*").over(Window.partitionBy(*keys))
                )
                .filter(F.col("__c") <= cap)
                .drop("__c")
                .collect()
            }
            assert alg == win, (keys, cap, len(alg), len(win))
    df.unpersist()
