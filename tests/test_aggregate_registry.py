"""Presto-named aggregate builders (functions/aggregates_reg.py) and
information_schema synthesis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import presto as A

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_basic_aggs(spark, li):
    row = li.agg(
        A.count("l_orderkey").alias("n"),
        A.count_if(F.col("l_quantity") > 25).alias("nbig"),
        A.bool_or(F.col("l_quantity") > 49).alias("any49"),
        A.approx_distinct("l_partkey").alias("nd"),
        A.arbitrary("l_returnflag").alias("some_flag"),
        A.min_by("l_orderkey", "l_quantity").alias("k_of_min_q"),
        A.geometric_mean("l_quantity").alias("gm"),
        A.checksum("l_orderkey").alias("ck"),
    ).collect()[0]
    assert row.n == 6000 and 0 < row.nbig < 6000
    assert row.any49 is True
    exact = li.select("l_partkey").distinct().count()
    assert abs(row.nd - exact) <= max(1, exact * 0.05)
    assert row.some_flag in ("A", "N", "R")
    assert row.gm > 0 and row.ck != 0


def test_checksum_order_independent(spark, li):
    a = li.agg(A.checksum("l_orderkey").alias("ck")).collect()[0].ck
    b = (
        li.repartition(13, "l_partkey")
        .agg(A.checksum("l_orderkey").alias("ck"))
        .collect()[0]
        .ck
    )
    assert a == b


def test_approx_distinct_and_checksum_agree_with_sql_path(spark):
    """Every name whose one implementation is the dialect's rewrite
    (aggregates_reg._ROUTED): P.<name> gives what Engine.sql gives, over
    BIGINT, VARCHAR and DOUBLE columns with NULLs, whole, grouped and over
    no rows — array_agg of no rows is NULL, max_by/min_by take n, and the
    weighted approx_percentile picks a member.  A second stage runs the
    sketch and ML scalars over each first stage's output: hll_cardinality
    and merge over the sketches (bytes, NULL sketches included), classify
    and regress over the models.  A Column argument raises."""
    from prestodb_presto_spark.engine import Engine
    from prestodb_presto_spark.functions.aggregates_reg import _ROUTED

    # one partition: array_agg, map_agg and multimap_agg keep input order
    df = spark.range(0, 3000, 1, 1).selectExpr(
        "id % 3 AS g",
        "IF(id % 7 = 0, NULL, id * 2654435761 % 5000) AS b",
        "IF(id % 5 = 0, NULL, CAST(id % 1700 AS STRING)) AS v",
        "IF(id % 11 = 0, NULL, (id % 900) / 8.0D) AS d",
        "IF(id % 13 = 0, NULL, id % 17) AS k",
        "1 + id % 4 AS w",
        "IF(id % 7 = 0, NULL, id % 3 * 10) AS c",
        "IF(id % 3 = 0, NULL, id % 50) AS z",
    ).selectExpr("*", "array(d, w) AS f")
    calls = [
        *((f, (x,)) for x in ("b", "v", "d") for f in ("approx_distinct", "checksum")),
        ("arbitrary", ("c",)),
        ("array_agg", ("v",)),
        ("array_agg", ("d",)),
        ("approx_percentile", ("d", 0.5)),
        ("approx_percentile", ("b", [0.25, 0.75])),
        ("approx_percentile", ("d", "w", 0.5)),
        ("approx_percentile", ("b", "w", [0.1, 0.9])),
        ("approx_percentile", ("d", "w", 0.5, 0.01)),
        ("skewness", ("d",)),
        ("kurtosis", ("d",)),
        ("map_agg", ("k", "v")),
        ("multimap_agg", ("k", "b")),
        ("min_by", ("v", "d")),
        ("max_by", ("v", "d")),
        ("min_by", ("b", "d", 3)),
        ("max_by", ("g", "b", 2)),
        ("learn_classifier", ("g", "f")),
        ("learn_regressor", ("d", "f")),
        # z is NULL in all of group 0: its sketch is NULL there
        *(("approx_set", (x,)) for x in ("b", "v", "d", "z")),
    ]
    # the second stage, over the first's output columns c<i>
    at = lambda *call: f"c{calls.index(call)}"  # noqa: E731
    sketches = [f"c{i}" for i, (name, _) in enumerate(calls) if name == "approx_set"]
    median = at("approx_percentile", ("d", 0.5))
    # the query vector is a column named a, the name a lambda variable of
    # the models' comparator might take: classify must read the column
    scalars = [
        *(("hll_cardinality", (sk,)) for sk in sketches),
        ("classify", ("a", at("learn_classifier", ("g", "f")))),
        ("regress", ("a", at("learn_regressor", ("d", "f")))),
        ("empty_approx_set", ()),
    ]
    merges = [("merge", (sk,)) for sk in sketches]
    assert {name for name, _ in [*calls, *scalars, *merges]} | {"features"} == set(_ROUTED)
    spelled = lambda a: f"ARRAY[{', '.join(map(str, a))}]" if isinstance(a, list) else str(a)  # noqa: E731

    def both(calls):
        """The calls as an Engine.sql select list and as P Columns."""
        sql = ", ".join(
            f"{name}({', '.join(map(spelled, args))}) AS c{i}"
            for i, (name, args) in enumerate(calls)
        )
        return sql, [getattr(A, name)(*args).alias(f"c{i}") for i, (name, args) in enumerate(calls)]

    sql, built = both(calls)
    scalar_sql, scalar_cols = both(scalars)
    merge_sql, merge_cols = both(merges)
    df.createOrReplaceTempView("p_parity_rows")
    try:
        engine = Engine(spark)
        run = lambda text: engine.sql(text, dialect="presto").collect()  # noqa: E731

        def second(first, first_sql: str):
            """The scalars and merge over one first stage; returns the
            merged sketches."""
            with_a = f"SELECT *, features({median}, 2) AS a FROM ({first_sql}) s1"
            want = run(f"SELECT {scalar_sql} FROM ({with_a}) s2")
            got = first.select("*", A.features(median, 2).alias("a")).select(*scalar_cols).collect()
            assert sorted(got, key=repr) == sorted(want, key=repr)
            want = run(f"SELECT {merge_sql} FROM ({first_sql}) s1")
            assert first.agg(*merge_cols).collect() == want
            assert all(row[-1] == bytearray.fromhex("020C0000") for row in got)
            return want[0]

        first_sql = f"SELECT {sql} FROM p_parity_rows"
        want = run(first_sql)
        assert df.agg(*built).collect() == want
        assert 1000 < want[0][0] < 5000 and want[0][1] is not None
        whole = want[0]
        assert whole[sketches[0]][:2] == bytearray.fromhex("030C")  # dense, p = 12
        second(df.agg(*built), first_sql)
        first_sql = f"SELECT g, {sql} FROM p_parity_rows GROUP BY g"
        want = run(first_sql)
        got = df.groupBy("g").agg(*built)
        assert sorted(got.collect(), key=lambda r: r.g) == sorted(want, key=lambda r: r.g)
        assert sorted(r[sketches[3]] is None for r in want) == [False, False, True]
        merged = second(got, first_sql)
        # one format: the merge of the group sketches is the whole one
        assert [merged[i] for i in range(len(sketches))] == [whole[sk] for sk in sketches]
        first_sql = f"SELECT {sql} FROM p_parity_rows WHERE b < 0"
        want = run(first_sql)
        assert df.where("b < 0").agg(*built).collect() == want
        assert want[0][0] == 0 and want[0][1] is None
        assert all(want[0][sk] is None for sk in sketches)
        assert list(second(df.where("b < 0").agg(*built), first_sql)) == [None] * len(sketches)
    finally:
        spark.catalog.dropTempView("p_parity_rows")
    four = spark.createDataFrame(
        [(1.0, 1, 1), (2.0, 1, 1), (3.0, 2, 1), (4.0, 2, 1)], "x double, g int, w int"
    )
    row = four.agg(A.approx_percentile("x", "w", 0.5), A.max_by("g", "x", 2)).collect()[0]
    assert tuple(row) == (3.0, [2, 2])
    for name in _ROUTED:
        with pytest.raises(TypeError, match="column name"):
            getattr(A, name)(F.col("b"))


def test_presto_ml_nulls_follow_presto(spark):
    """features of a NULL is NULL, classify of NULL features is NULL, and
    learn_classifier skips a row whose features are NULL."""
    from prestodb_presto_spark.engine import Engine

    run = lambda text: Engine(spark).sql(text, dialect="presto").collect()[0][0]  # noqa: E731
    train = "(VALUES (1, 1.0), (2, 5.0)) AS t(g, x)"
    assert run("SELECT features(CAST(NULL AS DOUBLE))") is None
    assert run(
        "SELECT classify(features(CAST(NULL AS DOUBLE)), m)"
        f" FROM (SELECT learn_classifier(g, features(x)) AS m FROM {train}) s"
    ) is None
    assert run(
        "SELECT cardinality(learn_classifier(g, features(x)))"
        " FROM (VALUES (1, 1.0), (2, NULL)) AS t(g, x)"
    ) == 1


def test_approx_percentile_forms(spark, li):
    row = li.agg(
        A.approx_percentile("l_quantity", 0.5).alias("p50"),
        A.approx_percentile("l_quantity", [0.25, 0.75]).alias("pq"),
    ).collect()[0]
    assert 1 <= row.p50 <= 50
    assert len(row.pq) == 2 and row.pq[0] <= row.pq[1]


def test_map_and_histogram_aggs(spark):
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    row = nat.groupBy("n_regionkey").agg(
        A.map_agg("n_nationkey", "n_name").alias("m"),
        A.histogram(F.col("n_nationkey") % 2).alias("h"),
    ).orderBy("n_regionkey").collect()[0]
    assert len(row.m) == 5 and all(v.startswith("NATION_") for v in row.m.values())
    assert sum(row.h.values()) == 5


def test_multimap_agg(spark):
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    row = nat.agg(A.multimap_agg("n_regionkey", "n_nationkey").alias("mm")).collect()[0]
    assert len(row.mm) == 5
    assert sorted(len(v) for v in row.mm.values()) == [5, 5, 5, 5, 5]


def test_numeric_histogram(spark, li):
    row = li.agg(A.numeric_histogram(5, "l_quantity", 1.0, 51.0).alias("h")).collect()[0]
    assert sum(row.h.values()) == 6000 and len(row.h) == 5


def test_information_schema(engine):
    tabs = {r.table_name for r in engine.information_schema("tables").collect()}
    assert {"lineitem", "orders", "nation"} <= tabs
    cols = engine.information_schema("columns")
    li_cols = {r.column_name for r in cols.filter("table_name = 'lineitem'").collect()}
    assert "l_orderkey" in li_cols and "l_shipdate" in li_cols


def test_information_schema_sql_path(engine):
    """information_schema.tables/columns queryable through Engine.sql
    (AbstractTestQueries.testInformationSchemaFiltering shape)."""
    rows = engine.sql(
        "SELECT table_name FROM information_schema.tables"
        " WHERE table_name = 'orders' LIMIT 1",
        dialect="presto",
    ).collect()
    assert [r.table_name for r in rows] == ["orders"]


def test_weighted_percentile(spark, li):
    # weight 1 == unweighted exact median; tripling weights preserves it
    row = li.select(
        F.lit(1).alias("w1"), F.lit(3).alias("w3"), "l_quantity"
    ).agg(
        A.approx_percentile("l_quantity", "w1", 0.5).alias("m1"),
        A.approx_percentile("l_quantity", "w3", 0.5).alias("m3"),
    ).collect()[0]
    assert row.m1 == row.m3
    exact = li.agg(F.expr("percentile(l_quantity, 0.5)").alias("m")).collect()[0].m
    assert row.m1 == exact


def test_map_agg_dedupes_by_key_not_pair(spark):
    """A key aggregated with two different values must not crash
    map_from_entries (mapKeyDedupPolicy=EXCEPTION); reference
    KeyValuePairs keeps one value per key."""
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    row = df.agg(A.map_agg("k", "v").alias("m")).collect()[0]
    assert set(row.m.keys()) == {1, 2}
    assert row.m[1] in ("a", "b") and row.m[2] == "c"


def test_set_digest_family(spark):
    """HLL+MinHash SetDigest: cardinality within HLL tolerance, jaccard
    of identical sets = 1.0, disjoint sets ~ 0, intersection estimate
    tracks the exact overlap."""
    df = spark.range(1000).select(
        F.col("id").alias("x"), (F.col("id") + 500).alias("y")
    )
    row = df.agg(
        A.make_set_digest("x").alias("dx"),
        A.make_set_digest("y").alias("dy"),
        A.make_set_digest("x").alias("dx2"),
    ).select(
        A.set_digest_cardinality("dx").alias("card"),
        A.jaccard_index("dx", "dx2").alias("j_same"),
        A.jaccard_index("dx", "dy").alias("j_half"),
        A.intersection_cardinality("dx", "dy").alias("inter"),
    ).collect()[0]
    assert abs(row.card - 1000) <= 50
    assert row.j_same == 1.0
    # |A ∩ B| = 500, |A ∪ B| = 1500 -> J = 1/3; 64 slots -> sigma ~ 0.06
    assert abs(row.j_half - 1 / 3) < 0.25
    assert abs(row.inter - 500) <= 250


def test_merge_set_digest_matches_single_pass(spark):
    df = spark.range(2000).select(
        F.col("id").alias("x"), (F.col("id") % 2).alias("site")
    )
    merged = (
        df.groupBy("site").agg(A.make_set_digest("x").alias("d"))
        .agg(A.merge_set_digest("d").alias("dm"))
        .select(A.set_digest_cardinality("dm").alias("card"),
                F.col("dm.sig").alias("sig"))
        .collect()[0]
    )
    single = df.agg(A.make_set_digest("x").alias("d")).select(
        F.col("d.sig").alias("sig")
    ).collect()[0]
    assert abs(merged.card - 2000) <= 100
    assert merged.sig == single.sig  # slot-wise MIN merge is exact


def test_array_agg_keeps_nulls(spark):
    """Presto array_agg retains NULL elements (Spark collect_list drops
    them) — SURVEY §2.3 strictness note."""
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "b")], "i int, v string")
    row = df.agg(A.array_agg("v").alias("arr")).collect()[0]
    assert sorted(x for x in row.arr if x is not None) == ["a", "b"]
    assert None in row.arr and len(row.arr) == 3


def test_map_agg_skips_null_keys(spark):
    df = spark.createDataFrame([(None, "x"), (1, "a"), (2, "b")], "k int, v string")
    row = df.agg(A.map_agg("k", "v").alias("m")).collect()[0]
    assert row.m == {1: "a", 2: "b"}


def test_map_union(spark):
    df = spark.createDataFrame(
        [({"a": 1, "b": 2},), ({"b": 9, "c": 3},)], "m map<string,int>"
    )
    row = df.agg(A.map_union("m").alias("u")).collect()[0]
    assert row.u["a"] == 1 and row.u["c"] == 3
    assert row.u["b"] in (2, 9) and len(row.u) == 3


def test_cardinality_and_merge_dispatch(spark):
    """Presto overloads cardinality and merge by type; the registry is
    name-keyed, so each type has its own name: hll_cardinality and merge
    read the airlift sketches approx_set builds, set_digest_cardinality a
    SetDigest, and cardinality keeps F.size for arrays and maps."""
    from pyspark.sql import functions as F

    from prestodb_presto_spark.functions import presto as P

    df = spark.range(200).select(
        F.col("id").cast("string").alias("s"), (F.col("id") % 2).alias("g")
    )
    sketches = df.groupBy("g").agg(P.approx_set("s").alias("sk"))
    per_group = sketches.select(P.hll_cardinality("sk").alias("c"))
    assert {r.c for r in per_group.collect()} == {100}

    merged = sketches.agg(P.merge("sk").alias("m")).select(P.hll_cardinality("m").alias("c"))
    assert merged.collect()[0].c == 200

    digest = df.agg(P.make_set_digest("s").alias("d"))
    assert digest.select(P.set_digest_cardinality("d").alias("c")).collect()[0].c == 200

    # array input keeps the size semantics
    arr = spark.sql("SELECT array(1,2,3) AS a, map('k', 1) AS m")
    row = arr.select(
        P.cardinality("a").alias("na"), P.cardinality("m").alias("nm")
    ).collect()[0]
    assert (row.na, row.nm) == (3, 1)
