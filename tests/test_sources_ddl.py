"""Sources/sinks, DDL/DML, and dialect-shim tests (SURVEY §2.2, §3 EP3).

Mirrors the reference's connector smoke tests (each presto-* connector
module ships format round-trip tests) and the DDL task tests under
presto-main/src/test/.../execution/.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark import ddl
from prestodb_presto_spark.dialect import translate
from prestodb_presto_spark.sources import MemoryTable, blackhole, read_table, write_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def nation(spark):
    return spark.read.parquet(f"{SF}/nation.parquet")


def test_roundtrip_formats(spark, nation, tmp_path):
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / fmt)
        write_table(nation, path=path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt)
        assert back.count() == nation.count()
        assert set(back.columns) == set(nation.columns)


def test_partitioned_write_prunes(spark, nation, tmp_path):
    """Hive-style partition layout + partition pruning in the scan."""
    path = str(tmp_path / "part_nation")
    write_table(nation, path=path, partition_by=["n_regionkey"])
    dirs = {d for d in os.listdir(path) if d.startswith("n_regionkey=")}
    assert len(dirs) == 5
    pruned = read_table(spark, path).filter(F.col("n_regionkey") == 2)
    assert pruned.count() == 5
    plan = ddl.explain(pruned)
    # partition filter must reach the scan, not a post-filter
    assert "PartitionFilters" in plan and "n_regionkey" in plan.split("PartitionFilters", 1)[1][:200]


def test_bucketed_write_avoids_exchange(spark, nation, tmp_path):
    """Bucketed table: equi-join on the bucket key needs no shuffle of the
    bucketed sides (reference grouped execution / Lifespan.java)."""
    spark.sql("DROP TABLE IF EXISTS bnation")
    spark.sql("DROP TABLE IF EXISTS bnation2")
    write_table(nation, bucket_by=(4, ["n_nationkey"]), table_name="bnation")
    write_table(nation, bucket_by=(4, ["n_nationkey"]), table_name="bnation2")
    joined = (
        spark.table("bnation").hint("shuffle_merge").join(spark.table("bnation2"), "n_nationkey")
    )
    plan = ddl.explain(joined)
    assert "Exchange" not in plan, "bucketed join should be exchange-free"
    spark.sql("DROP TABLE IF EXISTS bnation")
    spark.sql("DROP TABLE IF EXISTS bnation2")


def test_blackhole(nation):
    blackhole(nation)  # must not raise


def test_memory_table(spark, nation):
    mt = MemoryTable(spark, "mem_nation", nation.schema)
    assert spark.table("mem_nation").count() == 0
    mt.insert(nation)
    assert spark.table("mem_nation").count() == 25
    mt.insert(nation.limit(5))
    assert spark.table("mem_nation").count() == 30
    with pytest.raises(ValueError):
        mt.insert(nation.select("n_name"))
    mt.truncate()
    assert spark.table("mem_nation").count() == 0
    mt.drop()


def test_ctas_insert_delete(spark, nation, tmp_path):
    path = str(tmp_path / "t")
    ddl.create_table_as(spark, "nation_copy", nation, path=path)
    assert spark.table("nation_copy").count() == 25

    ddl.insert_into(spark, path, nation.limit(3))
    assert spark.read.parquet(path).count() == 28

    deleted = ddl.delete_where(spark, path, "n_regionkey = 2")
    assert deleted > 0
    remaining = spark.read.parquet(path)
    assert remaining.filter("n_regionkey = 2").count() == 0
    assert remaining.count() == 28 - deleted


def test_describe_show_session(spark, nation):
    nation.createOrReplaceTempView("nation_v")
    cols = dict(ddl.describe(spark, "nation_v"))
    assert cols["n_nationkey"] == "int" and cols["n_name"] == "string"
    assert "nation_v" in ddl.show_tables(spark)
    ddl.set_session(spark, "spark.sql.shuffle.partitions", "16")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    ddl.set_session(spark, "spark.sql.shuffle.partitions", "8")


# --- dialect shim -----------------------------------------------------------


def test_translate_renames():
    # arbitrary SKIPS nulls (ArbitraryAggregationFunction) — hence the
    # ignore-nulls flag.  approx_distinct lowers to the native-plan
    # parity composition (hash + count(DISTINCT prefix) + the DISTINCT
    # packed-register list + estimator); the hash is the JVM session
    # function for integers and the pandas UDF otherwise — assert the
    # key components rather than the full emission.
    out = translate("SELECT arbitrary(x), approx_distinct(y) FROM t")
    assert out.startswith("SELECT any_value(x, true), ")
    for piece in ("__presto_hll_xxh64(try_cast(CAST(y AS STRING) AS BIGINT))",
                  "presto_hll_hash(y", "count(DISTINCT", "collect_list(DISTINCT",
                  "__presto_hll_estimate(11", "coalesce("):
        assert piece in out, (piece, out)
    assert translate("SELECT json_extract_scalar(j, '$.a') FROM t") == (
        "SELECT get_json_object(j, '$.a') FROM t"
    )
    assert translate("SELECT strpos(s, 'x') FROM t") == "SELECT instr(s, 'x') FROM t"


def test_translate_datetime_signatures():
    # a one-field interval, so that a DATE stays a DATE
    assert translate("SELECT date_add('day', 7, ts) FROM t") == (
        "SELECT (ts + CAST(7 AS INTERVAL DAY)) FROM t"
    )
    assert translate("SELECT date_diff('hour', a, b) FROM t") == (
        "SELECT timestampdiff(HOUR, a, b) FROM t"
    )
    assert translate("SELECT date_format(ts, '%Y-%m-%d') FROM t") == (
        "SELECT date_format(ts, 'yyyy-MM-dd') FROM t"
    )
    # to_timestamp(s, pattern) is the Teradata name
    assert translate("SELECT date_parse(s, '%Y/%m/%d') FROM t") == (
        "SELECT to_timestamp_ltz(s, 'yyyy/MM/dd') FROM t"
    )
    # Java-pattern date_format passes through untouched
    assert translate("SELECT date_format(ts, 'yyyy') FROM t") == (
        "SELECT date_format(ts, 'yyyy') FROM t"
    )


def test_presto_sql_end_to_end(engine):
    """Presto-dialect SQL runs through Engine.sql(dialect='presto')."""
    row = engine.sql(
        """
        SELECT count(*) AS n,
               approx_distinct(o_custkey) AS nd,
               date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days,
               date_format(max(o_orderdate), '%Y-%m') AS last_month
        FROM orders
        WHERE o_orderdate >= date_add('year', -30, TIMESTAMP '2020-01-01 00:00:00')
        """,
        dialect="presto",
    ).collect()[0]
    assert row.n > 0 and row.nd > 0 and row.span_days > 0
    assert len(row.last_month) == 7


# --- record decoders (presto-record-decoder analog) -------------------------


def test_record_decoders(spark):
    from prestodb_presto_spark.sources.decoders import decoded_stream

    msgs = spark.createDataFrame(
        [
            ("t", 0, 0, bytearray(b'{"id": 1, "v": 2.5}')),
            ("t", 0, 1, bytearray(b'{"id": 2, "v": -1.0}')),
        ],
        "topic string, partition int, offset long, value binary",
    )
    rows = decoded_stream(msgs, "json", "id BIGINT, v DOUBLE").orderBy("offset").collect()
    assert [(r.id, r.v) for r in rows] == [(1, 2.5), (2, -1.0)]
    assert rows[0].partition == 0 and rows[0].offset == 0

    csv_msgs = spark.createDataFrame(
        [("t", 0, 0, bytearray(b"7,hello"))],
        "topic string, partition int, offset long, value binary",
    )
    row = decoded_stream(csv_msgs, "csv", "n INT, s STRING").collect()[0]
    assert (row.n, row.s) == (7, "hello")

    raw = decoded_stream(csv_msgs, "raw").collect()[0]
    assert raw.value == "7,hello"


def test_dialect_date_format_literal_chars(spark):
    """MySQL patterns with literal alpha chars ('T') must re-wrap with
    escaped quotes — date_format(ts, '%Y-%m-%dT%H') was emitting a
    malformed single-quoted literal."""
    from prestodb_presto_spark.dialect import translate

    sql = translate("SELECT date_format(TIMESTAMP '2024-02-29 13:05:00', '%Y-%m-%dT%H') AS s")
    assert spark.sql(sql).collect()[0].s == "2024-02-29T13"


def test_dialect_try_rewrites(engine):
    """TRY(expr) (TryFunction.java) lowers to Spark try_* variants."""
    from prestodb_presto_spark.dialect import translate

    assert translate("SELECT TRY(CAST(s AS BIGINT)) FROM t") == (
        "SELECT TRY_CAST(TRY_CAST(s AS DECIMAL(38,0)) AS BIGINT) FROM t"
    )  # DECIMAL(38,0) pivot: Presto rounds HALF_UP to integral types
    assert translate("SELECT try(a / b) FROM t") == "SELECT try_divide(a, b) FROM t"
    assert translate("SELECT TRY(element_at(m, 'k')) FROM t") == (
        "SELECT try_element_at(m, 'k') FROM t"
    )
    rows = engine.sql(
        """
        SELECT o_orderkey,
               TRY(CAST(o_orderpriority AS BIGINT)) AS pri_num,
               TRY(o_totalprice / (o_orderkey - o_orderkey)) AS div0
        FROM orders ORDER BY o_orderkey LIMIT 5
        """,
        dialect="presto",
    ).collect()
    assert len(rows) == 5
    assert all(r.pri_num is None for r in rows)  # '1-URGENT' etc never casts
    assert all(r.div0 is None for r in rows)  # x/0 -> null, not an ANSI error


def test_dialect_unnest_text(engine, oracle):
    """FROM-clause UNNEST [WITH ORDINALITY] (SqlBase.g4:240) via dialect
    shim, DuckDB-checked."""
    got = engine.sql(
        """
        SELECT doc_id, word, pos
        FROM documents CROSS JOIN UNNEST(split(text, ' ')) WITH ORDINALITY AS u(word, pos)
        WHERE doc_id < 5 ORDER BY doc_id, pos
        """,
        dialect="presto",
    ).collect()
    exp = oracle.sql(
        """
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents WHERE doc_id < 5 ORDER BY doc_id, pos
        """
    ).fetchall()
    assert [(r.doc_id, r.word, r.pos) for r in got] == [tuple(e) for e in exp]

    plain = engine.sql(
        """
        SELECT doc_id, word
        FROM documents CROSS JOIN UNNEST(split(text, ' ')) AS u(word)
        WHERE doc_id < 5 ORDER BY doc_id, word
        """,
        dialect="presto",
    ).count()
    assert plain == len(exp)

    zipped = engine.sql(
        "SELECT a, b FROM (SELECT 1) CROSS JOIN UNNEST(array(1,2), array('x','y')) AS z(a, b) ORDER BY a",
        dialect="presto",
    ).collect()
    assert [(r.a, r.b) for r in zipped] == [(1, "x"), (2, "y")]


def test_dialect_weighted_approx_percentile(engine, oracle):
    """approx_percentile(x, w, p) weighted spelling → the qdigest
    member-element pick since round 8 (smallest value whose cumulative
    weight STRICTLY exceeds p * totalWeight — airlift
    QuantileDigest.getQuantiles), DuckDB-checked against the
    expanded-by-weight discrete quantile."""
    from prestodb_presto_spark.dialect import translate

    out = translate("SELECT approx_percentile(x, w, 0.5) FROM t")
    assert "sort_array(collect_list(" in out and "aggregate(" in out, out
    got = engine.sql(
        """
        SELECT approx_percentile(o_totalprice, o_orderkey % 3 + 1, 0.5) AS med
        FROM orders
        """,
        dialect="presto",
    ).collect()[0].med
    # the member pick: first value (ascending) whose cumulative weight
    # strictly exceeds half the total weight
    exp = oracle.sql(
        """
        WITH w AS (SELECT o_totalprice AS v, o_orderkey % 3 + 1 AS w FROM orders),
        c AS (SELECT v, SUM(w) OVER (ORDER BY v, w) AS cum,
                     SUM(w) OVER () AS total FROM w)
        SELECT MIN(v) FROM c WHERE cum > 0.5 * total
        """
    ).fetchone()[0]
    assert got == exp, (got, exp)
    # a fractional second argument is a percentage, not a BIGINT weight:
    # approx_percentile(x, percentage, accuracy)
    pct = lambda args: engine.sql(  # noqa: E731
        f"SELECT approx_percentile(x, {args}) FROM (VALUES 1, 2, 3, 4) AS t(x)",
        dialect="presto",
    ).collect()[0][0]
    assert pct("0.5, 0.01") == pct("0.5")
    # an ARRAY of fractions picks a member per element, as the scalar
    # form does; the accuracy form follows
    weighted = lambda q: engine.sql(  # noqa: E731
        f"SELECT approx_percentile(x, w, {q}) FROM"
        " (VALUES (1, 1), (2, 1), (3, 1), (4, 1)) AS t(x, w)",
        dialect="presto",
    ).collect()[0][0]
    scalars = [weighted("0.25"), weighted("0.5")]
    assert scalars == [2, 3], scalars
    assert weighted("ARRAY[0.25, 0.5]") == scalars
    assert weighted("ARRAY[0.25, 0.5], 0.01") == scalars
    none = engine.sql(
        "SELECT approx_percentile(x, w, ARRAY[0.5]) FROM"
        " (VALUES (CAST(NULL AS BIGINT), 1)) AS t(x, w)",
        dialect="presto",
    ).collect()[0][0]
    assert none is None


def test_dialect_array_literal(engine):
    from prestodb_presto_spark.dialect import translate

    assert translate("SELECT ARRAY[1, 2, 3] AS a") == "SELECT array(1, 2, 3) AS a"
    row = engine.sql(
        "SELECT approx_percentile(o_totalprice, ARRAY[0.25, 0.75]) AS q FROM orders",
        dialect="presto",
    ).collect()[0]
    assert len(row.q) == 2 and row.q[0] <= row.q[1]


def test_prepared_statements(engine):
    """PREPARE / EXECUTE / DEALLOCATE (SqlBase.g4:31-98, PrepareTask.java)
    with positional ? parameters through Spark parameterized SQL."""
    import pytest

    engine.prepare(
        "big_orders",
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > ? AND o_orderstatus = ?",
    )
    n_all = engine.execute("big_orders", 0, "F").collect()[0].n
    n_big = engine.execute("big_orders", 200000, "F").collect()[0].n
    assert n_all > n_big > 0
    # presto-dialect text translates at PREPARE time
    engine.prepare(
        "span", "SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) AS d FROM orders",
        dialect="presto",
    )
    assert engine.execute("span").collect()[0].d > 0
    engine.deallocate("big_orders")
    with pytest.raises(KeyError):
        engine.execute("big_orders", 1)
    with pytest.raises(KeyError):
        engine.deallocate("big_orders")


def test_dialect_type_spellings(engine):
    """Presto type syntax inside CAST: ARRAY(T)/MAP(K,V)/ROW(..)/VARBINARY
    (presto-parser type grammar) -> Spark spellings."""
    from prestodb_presto_spark.dialect import translate

    assert translate("SELECT CAST(x AS ARRAY(INTEGER)) FROM t") == (
        "SELECT CAST(x AS ARRAY<INTEGER>) FROM t"
    )
    assert translate("SELECT CAST(m AS MAP(VARCHAR, ARRAY(DOUBLE))) FROM t") == (
        "SELECT CAST(m AS MAP<STRING, ARRAY<DOUBLE>>) FROM t"
    )
    assert translate("SELECT TRY_CAST(r AS ROW(a INTEGER, b VARCHAR)) FROM t") == (
        "SELECT TRY_CAST(r AS STRUCT<a: INTEGER, b: STRING>) FROM t"
    )
    assert translate("SELECT CAST(b AS VARBINARY) FROM t") == (
        "SELECT CAST(b AS BINARY) FROM t"
    )
    # integral targets get the HALF_UP rounding pivot (Presto
    # DoubleOperators.castToLong rounds; Spark truncates)
    assert translate("SELECT CAST(x AS BIGINT) FROM t") == (
        "SELECT CAST(CAST(x AS DECIMAL(38,0)) AS BIGINT) FROM t"
    )
    row = engine.sql(
        """
        SELECT CAST(ARRAY[1, 2] AS ARRAY(DOUBLE)) AS arr,
               CAST(map('a', 1) AS MAP(VARCHAR, DOUBLE)) AS m
        """,
        dialect="presto",
    ).collect()[0]
    assert row.arr == [1.0, 2.0] and row.m == {"a": 1.0}


def test_show_functions(engine):
    names = [r.function_name for r in engine.show_functions().collect()]
    assert "approx_distinct" in names and "st_contains" in names and len(names) > 300


def test_explain_analyze_runtime_metrics(spark):
    """EXPLAIN ANALYZE executes and reports per-operator SQL metrics
    inline (ExplainAnalyzeOperator parity)."""
    import pyspark.sql.functions as F

    from prestodb_presto_spark.ddl import explain_analyze

    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    )
    out = explain_analyze(df)
    assert "HashAggregate" in out and "Exchange" in out
    assert "numOutputRows=3" in out  # 3 order statuses, real executed metric
    assert "shuffleRecordsWritten" in out


def test_explain_io_read_schema_keeps_typed_commas():
    """EXPLAIN (TYPE IO) reads a scan's columns from Spark's ReadSchema:
    the commas of decimal(p,s) and of nested struct types are not
    column separators."""
    import json

    plan = (
        "(1) Scan parquet t\n"
        "ReadSchema: struct<a:int,p:decimal(12,2),s:struct<x:int,y:decimal(3,1)>>\n"
    )
    (scan,) = json.loads(ddl.explain_io(plan))["inputTableColumnInfos"]
    assert scan["columns"] == [
        {"columnName": "a", "type": "int"},
        {"columnName": "p", "type": "decimal(12,2)"},
        {"columnName": "s", "type": "struct<x:int,y:decimal(3,1)>"},
    ]


def test_order_by_subquery_hoist_parses_past_inner_limit(spark):
    """The sort items that hold subqueries end at the statement's own
    LIMIT/OFFSET/FETCH, not at one inside a sort item's subquery: the
    hoisted statement must parse."""
    sql = translate(
        "SELECT a FROM t ORDER BY (SELECT max(x) FROM u LIMIT 1), EXISTS (SELECT 1 FROM v)"
    )
    spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    assert "__ord2" in sql


def test_order_by_subquery_hoist_matches_duckdb(engine):
    import duckdb

    sql = (
        "SELECT a FROM (VALUES (1), (2), (3), (4)) AS t(a) "
        "ORDER BY (SELECT max(x) FROM (VALUES (10), (20)) AS u(x) LIMIT 1), "
        "EXISTS (SELECT 1 FROM (VALUES (2), (3)) AS v(y) WHERE v.y = t.a) DESC, "
        "a DESC LIMIT 3"
    )
    got = [tuple(r) for r in engine.sql(sql, dialect="presto").collect()]
    assert got == duckdb.sql(sql).fetchall() == [(3,), (2,), (4,)]


def test_show_stats(engine, spark):
    from prestodb_presto_spark.ddl import show_stats

    stats = {r.column_name: r for r in show_stats(spark, "region").collect()}
    assert stats["r_regionkey"].row_count == 5
    assert stats["r_regionkey"].distinct_values_count == 5
    assert stats["r_regionkey"].nulls_fraction == 0.0
    assert stats["r_regionkey"].low_value == "0" and stats["r_regionkey"].high_value == "4"


def test_dialect_tablesample_and_limit_all(engine):
    from prestodb_presto_spark.dialect import translate

    assert translate("SELECT * FROM t TABLESAMPLE BERNOULLI(10)") == (
        "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    )
    assert "LIMIT" not in translate("SELECT * FROM t LIMIT ALL")
    n = engine.sql(
        "SELECT count(*) AS n FROM (SELECT * FROM orders TABLESAMPLE SYSTEM(50) LIMIT ALL)",
        dialect="presto",
    ).collect()[0].n
    total = engine.sql("SELECT count(*) AS n FROM orders").collect()[0].n
    assert 0 < n < total


def test_jdbc_derby_roundtrip(spark, nation, tmp_path):
    """presto-base-jdbc end-to-end against the embedded Derby driver that
    ships with Spark (presto-base-jdbc/.../JdbcRecordCursor.java builds
    SELECT with pushed-down predicates; JdbcPageSink.java batches
    INSERTs; JdbcSplit.java = the partitioned read).  Asserts the full
    write→partitioned-read→filter-pushdown path, not just signatures."""
    from prestodb_presto_spark.sources import jdbc, jdbc_write

    url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jdbc_write(nation.select("n_nationkey", "n_name", "n_regionkey"), url, "nation_t", **opts)

    back = jdbc(
        spark, url, "nation_t",
        partition_column="n_nationkey", num_partitions=4,
        lower_bound=0, upper_bound=25, **opts,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == nation.count()
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nation.collect()
    )

    flt = back.filter(F.col("n_regionkey") == 1).select("n_nationkey", "n_name")
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_regionkey" in plan.split("PushedFilters")[1][:120]
    assert flt.count() == nation.filter("n_regionkey = 1").count()


# --- views (round 11: SqlBase.g4:55,71; CreateViewTask.java /
# DropViewTask.java; AbstractTestDistributedQueries.java:609-738) -------


def _cleanup_views(engine):
    for v in list(engine._views):
        engine.sql(f"DROP VIEW IF EXISTS {v}", dialect="presto")


def test_view_lifecycle(engine, spark):
    """Port of AbstractTestDistributedQueries.java:609 testView: create,
    replace, select, self-join, CTE-shadowing (the view's stored
    definition must NOT see an outer CTE named like its base table),
    drop."""
    q = (
        "SELECT o_orderkey orderkey, o_orderstatus orderstatus,"
        " o_totalprice / 2 half FROM orders"
    )
    try:
        engine.sql("CREATE VIEW test_view AS SELECT 123 x", dialect="presto")
        assert engine.sql("SELECT * FROM test_view", dialect="presto").collect()[0].x == 123
        engine.sql("CREATE OR REPLACE VIEW test_view AS " + q, dialect="presto")

        want = engine.sql(q, dialect="presto").collect()
        got = engine.sql("SELECT * FROM test_view", dialect="presto").collect()
        assert sorted(got) == sorted(want) and len(got) > 0

        j = engine.sql(
            "SELECT count(*) AS c FROM test_view a JOIN test_view b"
            " ON a.orderkey = b.orderkey",
            dialect="presto",
        ).collect()[0].c
        assert j == len(want)

        c = engine.sql(
            "WITH orders AS (SELECT * FROM orders LIMIT 0)"
            " SELECT count(*) AS c FROM test_view",
            dialect="presto",
        ).collect()[0].c
        assert c == len(want)

        engine.sql("DROP VIEW test_view", dialect="presto")
        assert "test_view" not in engine._views
    finally:
        _cleanup_views(engine)


def test_view_case_sensitivity(engine):
    """Port of testViewCaseSensitivity (java:633)."""
    try:
        engine.sql(
            "CREATE VIEW test_view_uppercase AS SELECT X FROM (SELECT 123 X)",
            dialect="presto",
        )
        engine.sql(
            "CREATE VIEW test_view_mixedcase AS SELECT XyZ FROM (SELECT 456 XyZ)",
            dialect="presto",
        )
        up = engine.sql("SELECT * FROM test_view_uppercase", dialect="presto").collect()
        assert [r[0] for r in up] == [123]
        mx = engine.sql("SELECT * FROM test_view_mixedcase", dialect="presto").collect()
        assert [r[0] for r in mx] == [456]
    finally:
        _cleanup_views(engine)


def test_view_metadata(engine, spark):
    """Port of testViewMetadata (java:684): information_schema.tables
    reports table_type VIEW, information_schema.views carries the
    original definition, SHOW CREATE VIEW replays it, DESCRIBE shows the
    view's columns."""
    q = "SELECT CAST(123 AS BIGINT) x, 'foo' y"
    try:
        engine.sql("CREATE VIEW meta_test_view AS " + q, dialect="presto")

        tt = {
            (r.table_name, r.table_type)
            for r in engine.sql(
                "SELECT table_name, table_type FROM information_schema.tables",
                dialect="presto",
            ).collect()
        }
        assert ("meta_test_view", "VIEW") in tt
        assert ("orders", "BASE TABLE") in tt and ("lineitem", "BASE TABLE") in tt

        vd = {
            r.table_name: r.view_definition
            for r in engine.sql(
                "SELECT table_name, view_definition FROM information_schema.views",
                dialect="presto",
            ).collect()
        }
        assert vd == {"meta_test_view": q}

        sc = engine.sql("SHOW CREATE VIEW meta_test_view", dialect="presto").collect()
        assert sc[0].create_view == f"CREATE VIEW meta_test_view AS {q}"

        cols = ddl.describe(spark, "meta_test_view")
        assert cols == [("x", "bigint"), ("y", "string")]
    finally:
        _cleanup_views(engine)


def test_view_errors(engine):
    try:
        engine.sql("CREATE VIEW test_view_dup AS SELECT 1 a", dialect="presto")
        with pytest.raises(Exception, match="already exists"):
            engine.sql("CREATE VIEW test_view_dup AS SELECT 2 a", dialect="presto")
        engine.sql("DROP VIEW test_view_dup", dialect="presto")
        with pytest.raises(Exception, match="not found"):
            engine.sql("DROP VIEW test_view_dup", dialect="presto")
        engine.sql("DROP VIEW IF EXISTS test_view_dup", dialect="presto")  # no raise
        with pytest.raises(Exception, match="not found"):
            engine.sql("SHOW CREATE VIEW test_view_dup", dialect="presto")
    finally:
        _cleanup_views(engine)


def test_catalog_view_reresolves(spark):
    """Port of testCompatibleTypeChangeForView (java:644): a CATALOG
    (persistent) view stores its defining text and re-resolves per
    query, so replacing the base table with a compatible one changes
    what the view returns.  Uses ddl.create_view (real catalog views
    over managed tables — the Spark-first path when a metastore exists)."""
    from prestodb_presto_spark.sources.io import drop_table

    try:
        spark.createDataFrame([("abcdefg",)], "a string").write.mode(
            "overwrite"
        ).saveAsTable("test_table_1")
        ddl.create_view(spark, "test_view_1", "SELECT a FROM test_table_1")
        assert [r.a for r in spark.table("test_view_1").collect()] == ["abcdefg"]

        drop_table(spark, "test_table_1")
        spark.createDataFrame([("abc",)], "a string").write.saveAsTable("test_table_1")
        assert [r.a for r in spark.table("test_view_1").collect()] == ["abc"]

        assert ddl.view_definition(spark, "test_view_1") == "SELECT a FROM test_table_1"
        assert ddl.show_create_view(spark, "test_view_1") == (
            "CREATE VIEW test_view_1 AS SELECT a FROM test_table_1"
        )
    finally:
        ddl.drop_view(spark, "test_view_1", if_exists=True)
        spark.sql("DROP TABLE IF EXISTS test_table_1")


def test_presto_catalog_view_over_session_functions(spark):
    """ddl.create_view(dialect="presto") creates what the translated text
    calls before Spark sees it; those are temporary functions, and a
    persistent view cannot reference one.  A view whose translation is
    plain Spark SQL works."""
    from pyspark.errors import AnalysisException

    fresh = spark.newSession()
    try:
        for name, query in (
            ("test_view_normalize", "SELECT normalize('abc') AS s"),
            (
                "test_view_approx",
                "SELECT approx_distinct(x) AS n FROM (VALUES 1, 2, 2) t(x)",
            ),
        ):
            with pytest.raises(AnalysisException) as err:
                ddl.create_view(fresh, name, query, dialect="presto")
            assert err.value.getCondition() == "INVALID_TEMP_OBJ_REFERENCE", err.value
        ddl.create_view(
            fresh,
            "test_view_date_diff",
            "SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-01') AS d",
            dialect="presto",
        )
        assert fresh.table("test_view_date_diff").collect()[0].d == 60
    finally:
        for name in ("test_view_normalize", "test_view_approx", "test_view_date_diff"):
            ddl.drop_view(fresh, name, if_exists=True)


# --- ALTER TABLE / schema DDL (round 11: RenameTableTask.java,
# AddColumnTask.java, RenameColumnTask.java, DropColumnTask.java,
# CreateSchemaTask.java, DropSchemaTask.java, ResetSessionTask.java) ----


def test_alter_table_roundtrip(spark):
    from prestodb_presto_spark.sources.io import drop_table

    try:
        spark.createDataFrame(
            [(1, "x"), (2, "y")], "a int, b string"
        ).write.mode("overwrite").saveAsTable("test_alter_t")

        ddl.add_column(spark, "test_alter_t", "c", "double")
        rows = spark.table("test_alter_t").orderBy("a").collect()
        assert [r.c for r in rows] == [None, None]  # metadata-only add reads NULL

        ddl.rename_column(spark, "test_alter_t", "b", "b2")
        assert spark.table("test_alter_t").columns == ["a", "b2", "c"]
        assert {r.b2 for r in spark.table("test_alter_t").collect()} == {"x", "y"}

        ddl.drop_column(spark, "test_alter_t", "c")
        assert spark.table("test_alter_t").columns == ["a", "b2"]
        with pytest.raises(ValueError, match="column not found"):
            ddl.drop_column(spark, "test_alter_t", "zzz")

        ddl.rename_table(spark, "test_alter_t", "test_alter_t2")
        assert not spark.catalog.tableExists("test_alter_t")
        assert {r.a for r in spark.table("test_alter_t2").collect()} == {1, 2}
    finally:
        for t in ("test_alter_t", "test_alter_t2"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_schema_ddl_and_reset_session(spark):
    try:
        ddl.create_schema(spark, "test_sch1")
        ddl.create_schema(spark, "test_sch1", if_not_exists=True)  # no raise
        spark.createDataFrame([(1,)], "a int").write.mode("overwrite").saveAsTable(
            "test_sch1.t"
        )
        assert spark.table("test_sch1.t").count() == 1
        with pytest.raises(Exception):  # non-empty, no CASCADE
            ddl.drop_schema(spark, "test_sch1")
        ddl.drop_schema(spark, "test_sch1", cascade=True)
        assert "test_sch1" not in [d.name for d in spark.catalog.listDatabases()]

        ddl.set_session(spark, "spark.sql.shuffle.partitions", "7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        ddl.reset_session(spark, "spark.sql.shuffle.partitions")
        assert spark.conf.get("spark.sql.shuffle.partitions") != "7"
    finally:
        spark.sql("DROP SCHEMA IF EXISTS test_sch1 CASCADE")
        spark.conf.set("spark.sql.shuffle.partitions", "8")


# --- kafka contract + full record-decoder surface (round 11) -----------
# No broker or spark-sql-kafka jar ships in this container (documented
# env-gate, COVERAGE §2.2): the reader contract is pinned here so a
# cluster deployment failure is a CONTRACT change, not a silent skip;
# the decode path (the actual logic, presto-record-decoder parity) runs
# fully on kafka-shaped frames.


def test_kafka_contract(spark):
    """kafka_batch must target the kafka DSv2 source with the documented
    subscribe/offset options; without the package Spark must fail with
    DATA_SOURCE_NOT_FOUND naming 'kafka' (not silently return an empty
    frame)."""
    from prestodb_presto_spark.sources.io import kafka_batch

    try:
        df = kafka_batch(spark, "localhost:9092", "events")
    except Exception as exc:
        msg = str(exc)
        assert "kafka" in msg.lower() and (
            "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg
        ), msg
        return
    # package present (cluster environment): the kafka schema contract
    assert {"key", "value", "topic", "partition", "offset"} <= set(df.columns)


def test_record_decoders_timestamp_fields(spark):
    """JSON temporal field decoders vs presto-record-decoder
    (decoder/json/*.java): iso8601, rfc2822 ('EEE MMM dd HH:mm:ss Z
    yyyy', the Twitter created_at shape), millis/seconds since epoch,
    and a custom formatHint — each must land on the same UTC instant."""
    from prestodb_presto_spark.sources.decoders import decode_json, decode_ts_field

    payload = (
        '{"iso": "1970-01-02T00:00:00.000Z",'
        ' "rfc": "Fri Jan 02 00:00:00 +0000 1970",'
        ' "ms": 86400000, "s": 86400, "custom": "1970/01/02 00.00.00"}'
    )
    msgs = spark.createDataFrame(
        [("t", 0, 0, bytearray(payload.encode()))],
        "topic string, partition int, offset long, value binary",
    )
    m = msgs.select(
        decode_json(
            "value", "iso STRING, rfc STRING, ms LONG, s LONG, custom STRING"
        ).alias("m")
    ).select("m.*")
    row = m.select(
        F.unix_timestamp(decode_ts_field("iso", "iso8601")).alias("iso"),
        F.unix_timestamp(decode_ts_field("rfc", "rfc2822")).alias("rfc"),
        F.unix_timestamp(decode_ts_field("ms", "milliseconds-since-epoch")).alias("ms"),
        F.unix_timestamp(decode_ts_field("s", "seconds-since-epoch")).alias("s"),
        F.unix_timestamp(decode_ts_field("custom", "yyyy/MM/dd HH.mm.ss")).alias("c"),
    ).collect()[0]
    assert (row.iso, row.rfc, row.ms, row.s, row.c) == (86400,) * 5


def test_record_decoder_raw_layouts(spark):
    """Raw decoder integer layouts (decoder/raw/RawRowDecoder.java):
    big-endian two's-complement BYTE/SHORT/INT/LONG, including negative
    values, plus boolean."""
    from prestodb_presto_spark.sources.decoders import decode_raw

    rows = spark.createDataFrame(
        [
            (bytearray(b"\x7f"),),                                  # 127
            (bytearray(b"\x80"),),                                  # -128
            (bytearray(b"\x01\x00"),),                              # 256
            (bytearray(b"\xff\xff"),),                              # -1
            (bytearray(b"\x00\x01\x00\x00"),),                      # 65536
            (bytearray(b"\xff\xff\xff\xff\xff\xff\xff\xfe"),),      # -2
        ],
        "value binary",
    )
    vals = rows.select(
        decode_raw("value", "tinyint").alias("b"),
        decode_raw("value", "smallint").alias("h"),
        decode_raw("value", "int").alias("i"),
        decode_raw("value", "bigint").alias("l"),
        decode_raw("value", "boolean").alias("t"),
    ).collect()
    assert [v.b for v in vals[:2]] == [127, -128]
    assert [v.h for v in vals[2:4]] == [256, -1]
    assert vals[4].i == 65536
    assert vals[5].l == -2
    assert vals[0].t is True


def test_session_statement_routing(engine, spark):
    """Presto session/metadata statements through Engine.sql
    (SetSessionTask.java, ResetSessionTask.java, ShowQueriesRewrite
    SHOW SESSION / SHOW STATS / SHOW CREATE TABLE)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        engine.sql(
            "SET SESSION spark.sql.shuffle.partitions = 7", dialect="presto"
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        sess = {
            r.name: r.value
            for r in engine.sql("SHOW SESSION", dialect="presto").collect()
        }
        assert sess.get("spark.sql.shuffle.partitions") == "7"
        engine.sql(
            "RESET SESSION spark.sql.shuffle.partitions", dialect="presto"
        )
        assert spark.conf.get("spark.sql.shuffle.partitions") != "7"

        stats = engine.sql("SHOW STATS FOR nation", dialect="presto").collect()
        cols = {r.column_name: r for r in stats}
        assert cols["n_nationkey"].row_count == 25
        assert cols["n_nationkey"].distinct_values_count >= 24

        ct = engine.sql("SHOW CREATE TABLE nation", dialect="presto").collect()
        assert "CREATE TABLE nation" in ct[0][0] and "n_name" in ct[0][0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# --- example-http: real Python DataSource V2 connector (round 11) ------


@pytest.fixture(scope="module")
def example_http_server(tmp_path_factory):
    """Serve a reference-shaped example catalog over REAL HTTP
    (presto-example-http test fixture example-metadata.json shape)."""
    import http.server
    import json as _json
    import socketserver
    import threading

    root = tmp_path_factory.mktemp("example_http")
    (root / "example-metadata.json").write_text(
        _json.dumps(
            {
                "example": [
                    {
                        "name": "numbers",
                        "columns": [
                            {"name": "text", "type": "VARCHAR"},
                            {"name": "value", "type": "BIGINT"},
                        ],
                        "sources": ["numbers-1.csv", "numbers-2.csv"],
                    },
                    {
                        "name": "mixed",
                        "columns": [
                            {"name": "flag", "type": "BOOLEAN"},
                            {"name": "score", "type": "DOUBLE"},
                            {"name": "n", "type": "INTEGER"},
                        ],
                        "sources": ["mixed-1.csv"],
                    },
                ]
            }
        )
    )
    (root / "numbers-1.csv").write_text("one, 1\ntwo, 2\n")
    (root / "numbers-2.csv").write_text("three, 3\nten, 10\neleven, 11\n")
    (root / "mixed-1.csv").write_text("true, 1.5, 7\nfalse, -0.25, 9\n")

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(root), **kw)

        def log_message(self, *a):  # quiet
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        yield f"http://127.0.0.1:{port}/example-metadata.json"
        httpd.shutdown()


def test_example_http_datasource(spark, example_http_server):
    """The reference's example-http connector re-expressed as a pure
    Python DataSource V2: catalog JSON over HTTP, one split per source
    URI, typed CSV decode on executors (ExampleClient.java:95,
    ExampleSplitManager.java, ExampleRecordCursor.java:42)."""
    from prestodb_presto_spark.sources.example_http import register_example_http

    register_example_http(spark)
    df = (
        spark.read.format("example_http")
        .option("metadata", example_http_server)
        .option("schema", "example")
        .option("table", "numbers")
        .load()
    )
    assert df.schema.simpleString() == "struct<text:string,value:bigint>"
    # one partition per source URI (two CSVs → two splits)
    assert df.rdd.getNumPartitions() == 2
    rows = {(r.text, r.value) for r in df.collect()}
    assert rows == {("one", 1), ("two", 2), ("three", 3), ("ten", 10), ("eleven", 11)}
    # aggregation through the connector (executor-side decode)
    assert df.agg(F.sum("value").alias("s")).collect()[0].s == 27

    mixed = (
        spark.read.format("example_http")
        .option("metadata", example_http_server)
        .option("schema", "example")
        .option("table", "mixed")
        .load()
        .orderBy("n")
        .collect()
    )
    assert [(r.flag, r.score, r.n) for r in mixed] == [
        (True, 1.5, 7),
        (False, -0.25, 9),
    ]

    with pytest.raises(Exception, match="unknown table"):
        (
            spark.read.format("example_http")
            .option("metadata", example_http_server)
            .option("schema", "example")
            .option("table", "nope")
            .load()
        )


def test_call_procedures(engine, spark):
    """CALL statement (execution/CallTask.java semantics: positional OR
    named args, no mixing, unknown/duplicate names rejected) over a
    procedure registry (metadata/ProcedureRegistry.java) with the
    reference's system procedures mapped to Spark analogs
    (KillQueryProcedure.java -> cancelJobGroup; metadata-cache flush ->
    refreshTable; hive partition sync -> MSCK REPAIR)."""
    calls = []
    engine.register_procedure(
        "testing.record", ["x", "y", "z"], lambda x, y=None, z=None: calls.append((x, y, z))
    )
    engine.sql("CALL testing.record(1, 2.5, 'it''s')", dialect="presto")
    assert calls[-1] == (1, 2.5, "it's")
    engine.sql("CALL testing.record(x => 7, y => true)", dialect="presto")
    assert calls[-1] == (7, True, None)
    with pytest.raises(Exception, match="cannot be mixed"):
        engine.sql("CALL testing.record(1, y => 2)", dialect="presto")
    with pytest.raises(Exception, match="Unknown argument"):
        engine.sql("CALL testing.record(q => 1)", dialect="presto")
    with pytest.raises(Exception, match="Duplicate procedure argument"):
        engine.sql("CALL testing.record(x => 1, x => 2)", dialect="presto")
    with pytest.raises(Exception, match="not registered"):
        engine.sql("CALL nope.nothing()", dialect="presto")

    # r14 (ADVICE): declared arg names bind by POSITION — a callable whose
    # parameter names differ from the declared names still works with
    # named invocation, and missing required args are rejected
    engine.register_procedure(
        "testing.renamed", ["declared_a", "declared_b"], lambda p, q=9: calls.append((p, q))
    )
    engine.sql("CALL testing.renamed(declared_a => 3)", dialect="presto")
    assert calls[-1] == (3, 9)
    engine.sql("CALL testing.renamed(declared_b => 4, declared_a => 5)", dialect="presto")
    assert calls[-1] == (5, 4)
    with pytest.raises(Exception, match="Missing required"):
        engine.sql("CALL testing.renamed(declared_b => 4)", dialect="presto")

    # built-ins execute against the live session
    spark.createDataFrame([(1,)], "a int").createOrReplaceTempView("call_probe")
    engine.sql("CALL system.refresh_table('call_probe')", dialect="presto")
    # named form of a built-in whose callable parameter is named 'table'
    # while the declared name is 'table_name' (the r13 TypeError case)
    engine.sql("CALL system.refresh_table(table_name => 'call_probe')", dialect="presto")
    engine.sql("CALL system.runtime.kill_query('no-such-group')", dialect="presto")


def test_grant_revoke_show_grants(engine, spark):
    """GRANT/REVOKE/SHOW GRANTS (GrantTask.java, RevokeTask.java;
    spi/security/Privilege.java SELECT/DELETE/INSERT/UPDATE) with the
    reference's information_schema.table_privileges column set
    (InformationSchemaMetadata.java:106). Session-scoped bookkeeping —
    enforcement documented as the lake access layer's job."""
    try:
        engine.sql("GRANT SELECT, INSERT ON lineitem TO alice", dialect="presto")
        engine.sql(
            "GRANT ALL PRIVILEGES ON TABLE nation TO bob WITH GRANT OPTION",
            dialect="presto",
        )
        g = engine.sql("SHOW GRANTS ON lineitem", dialect="presto").collect()
        assert {(r.grantee, r.privilege_type, r.is_grantable) for r in g} == {
            ("alice", "SELECT", False),
            ("alice", "INSERT", False),
        }
        assert g[0].grantor == "system" and g[0].table_name == "lineitem"

        allg = engine.sql(
            "SELECT grantee, table_name, privilege_type, is_grantable"
            " FROM information_schema.table_privileges",
            dialect="presto",
        ).collect()
        bob = {(r.privilege_type, r.is_grantable) for r in allg if r.grantee == "bob"}
        assert bob == {(p, True) for p in ("SELECT", "DELETE", "INSERT", "UPDATE")}

        engine.sql(
            "REVOKE GRANT OPTION FOR SELECT ON nation FROM bob", dialect="presto"
        )
        g2 = engine.sql("SHOW GRANTS ON nation", dialect="presto").collect()
        assert {(r.privilege_type, r.is_grantable) for r in g2} == {
            ("SELECT", False), ("DELETE", True), ("INSERT", True), ("UPDATE", True),
        }
        engine.sql("REVOKE ALL PRIVILEGES ON nation FROM bob", dialect="presto")
        assert engine.sql("SHOW GRANTS ON nation", dialect="presto").count() == 0

        with pytest.raises(Exception, match="does not exist"):
            engine.sql("GRANT SELECT ON no_such_tbl TO x", dialect="presto")
        with pytest.raises(Exception, match="Unknown privilege"):
            engine.sql("GRANT FLY ON lineitem TO x", dialect="presto")
    finally:
        engine._grants().clear()


def test_explain_statement_routing(engine):
    """EXPLAIN (TYPE ...) / EXPLAIN ANALYZE statements (SqlBase.g4:68,
    ExplainTask.java, ExplainAnalyzeOperator.java) through the presto
    dialect; plain EXPLAIN parses natively."""
    v = engine.sql(
        "EXPLAIN (TYPE VALIDATE) SELECT count(*) FROM nation", dialect="presto"
    ).collect()
    assert v[0].valid is True
    with pytest.raises(Exception):
        engine.sql(
            "EXPLAIN (TYPE VALIDATE) SELECT no_such_col FROM nation",
            dialect="presto",
        )
    d = engine.sql(
        "EXPLAIN (TYPE DISTRIBUTED) SELECT n_regionkey, count(*) AS c"
        " FROM nation GROUP BY n_regionkey",
        dialect="presto",
    ).collect()[0].query_plan
    assert "HashAggregate" in d and "Exchange" in d
    lg = engine.sql(
        "EXPLAIN (TYPE LOGICAL) SELECT 1 AS one", dialect="presto"
    ).collect()[0].query_plan
    assert "Parsed Logical Plan" in lg or "logical" in lg.lower()
    an = engine.sql(
        "EXPLAIN ANALYZE SELECT count(*) AS c FROM nation", dialect="presto"
    ).collect()[0].query_plan
    assert "=" in an  # runtime metrics inline
    # plain EXPLAIN still parses natively through the dialect path
    pl = engine.sql("EXPLAIN SELECT 1", dialect="presto").collect()
    assert len(pl) == 1


def test_prepared_statement_routing_and_misc(engine, spark):
    """Statement-level PREPARE/EXECUTE [USING]/DEALLOCATE PREPARE/
    DESCRIBE INPUT/OUTPUT + SHOW STATS FOR (query) + SET PATH +
    ALTER SCHEMA RENAME (grammar SqlBase.g4:29-99; PrepareTask,
    showStatsForQuery, SetPathTask, RenameSchemaTask)."""
    engine.sql(
        "PREPARE my_q FROM SELECT n_name FROM nation WHERE n_regionkey = ?",
        dialect="presto",
    )
    rows = engine.sql("EXECUTE my_q USING 2", dialect="presto").collect()
    assert len(rows) == 5
    outd = engine.sql("DESCRIBE OUTPUT my_q", dialect="presto").collect()
    assert [(r.column_name, r.type) for r in outd] == [("n_name", "string")]
    ind = engine.sql("DESCRIBE INPUT my_q", dialect="presto").collect()
    assert len(ind) == 1
    engine.sql("DEALLOCATE PREPARE my_q", dialect="presto")
    with pytest.raises(Exception, match="not found"):
        engine.sql("EXECUTE my_q", dialect="presto")

    st = engine.sql(
        "SHOW STATS FOR (SELECT n_regionkey FROM nation)", dialect="presto"
    ).collect()
    assert st[0].column_name == "n_regionkey" and st[0].row_count == 25

    engine.sql("SET PATH a.b", dialect="presto")
    assert engine._session_path == "a.b"

    from prestodb_presto_spark import ddl as _ddl

    try:
        _ddl.create_schema(spark, "ren_src")
        spark.createDataFrame([(1,)], "a int").write.mode("overwrite").saveAsTable(
            "ren_src.t1"
        )
        _ddl.rename_schema(spark, "ren_src", "ren_dst")
        assert "ren_src" not in [d.name for d in spark.catalog.listDatabases()]
        assert spark.table("ren_dst.t1").count() == 1
        with pytest.raises(ValueError, match="does not exist"):
            _ddl.rename_schema(spark, "ren_src", "ren_x")
        with pytest.raises(ValueError, match="already exists"):
            _ddl.rename_schema(spark, "default", "ren_dst")
    finally:
        spark.sql("DROP SCHEMA IF EXISTS ren_src CASCADE")
        spark.sql("DROP SCHEMA IF EXISTS ren_dst CASCADE")


def test_show_partitions_native(spark):
    """SHOW PARTITIONS (grammar SqlBase.g4:91 showPartitions) — Spark's
    native spelling matches for the base form; predicates filter
    client-side like the reference's WHERE."""
    try:
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "v int, k string"
        ).write.mode("overwrite").partitionBy("k").saveAsTable("show_part_t")
        parts = [r.partition for r in spark.sql("SHOW PARTITIONS show_part_t").collect()]
        assert sorted(parts) == ["k=a", "k=b"]
    finally:
        spark.sql("DROP TABLE IF EXISTS show_part_t")


def test_explain_option_list(engine):
    v = engine.sql(
        "EXPLAIN (FORMAT TEXT, TYPE VALIDATE) SELECT 1", dialect="presto"
    ).collect()
    assert v[0].valid is True


# --- direct ports of the reference's ALTER-family tests ----------------
# AbstractTestDistributedQueries.java:338 testRenameTable, :358
# testRenameColumn, :375 testDropColumn, :386 testAddColumn — run on
# managed tables through ddl.py + Spark SQL.


def _drop_all(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rename_table_port(spark):
    try:
        spark.createDataFrame([(123,)], "x int").write.mode("overwrite").saveAsTable(
            "test_rename"
        )
        ddl.rename_table(spark, "test_rename", "test_rename_new")
        assert spark.sql("SELECT x FROM test_rename_new").collect()[0].x == 123
        # new name in uppercase: resolution is case-insensitive
        ddl.rename_table(spark, "test_rename_new", "TEST_RENAME")
        assert spark.sql("SELECT x FROM test_rename").collect()[0].x == 123
        spark.sql("DROP TABLE test_rename")
        assert not spark.catalog.tableExists("test_rename")
        assert not spark.catalog.tableExists("test_rename_new")
    finally:
        _drop_all(spark, "test_rename", "test_rename_new")


def test_rename_column_port(spark):
    try:
        spark.createDataFrame([(123,)], "x int").write.mode("overwrite").saveAsTable(
            "test_rename_column"
        )
        ddl.rename_column(spark, "test_rename_column", "x", "y")
        assert spark.sql("SELECT y FROM test_rename_column").collect()[0].y == 123
        ddl.rename_column(spark, "test_rename_column", "y", "Z")
        assert spark.sql("SELECT z FROM test_rename_column").collect()[0][0] == 123
    finally:
        _drop_all(spark, "test_rename_column")


def test_drop_column_port(spark):
    try:
        spark.createDataFrame([(123, 111)], "x int, a int").write.mode(
            "overwrite"
        ).saveAsTable("test_drop_col")
        ddl.drop_column(spark, "test_drop_col", "x")
        with pytest.raises(Exception):  # Column 'x' cannot be resolved
            spark.sql("SELECT x FROM test_drop_col").collect()
        with pytest.raises(ValueError, match="only column"):
            ddl.drop_column(spark, "test_drop_col", "a")
    finally:
        _drop_all(spark, "test_drop_col")


def test_add_column_port(spark):
    try:
        spark.createDataFrame([(123,)], "x int").write.mode("overwrite").saveAsTable(
            "test_add_col"
        )
        spark.createDataFrame([(234, 111)], "x int, a bigint").write.mode(
            "overwrite"
        ).saveAsTable("test_add_col_a")
        spark.createDataFrame(
            [(345, 222, 33.3)], "x int, a bigint, b double"
        ).write.mode("overwrite").saveAsTable("test_add_col_ab")

        with pytest.raises(Exception):  # Column 'x' already exists
            ddl.add_column(spark, "test_add_col", "x", "bigint")
        with pytest.raises(Exception):  # case-insensitive duplicate
            ddl.add_column(spark, "test_add_col", "X", "bigint")
        with pytest.raises(Exception):  # unknown type
            ddl.add_column(spark, "test_add_col", "q", "bad_type")

        ddl.add_column(spark, "test_add_col", "a", "bigint")
        spark.sql("INSERT INTO test_add_col SELECT * FROM test_add_col_a")
        rows = spark.sql("SELECT x, a FROM test_add_col ORDER BY x").collect()
        assert [(r.x, r.a) for r in rows] == [(123, None), (234, 111)]

        ddl.add_column(spark, "test_add_col", "b", "double")
        spark.sql("INSERT INTO test_add_col SELECT * FROM test_add_col_ab")
        rows = spark.sql("SELECT x, a, b FROM test_add_col ORDER BY x").collect()
        assert [(r.x, r.a, r.b) for r in rows] == [
            (123, None, None),
            (234, 111, None),
            (345, 222, 33.3),
        ]
    finally:
        _drop_all(spark, "test_add_col", "test_add_col_a", "test_add_col_ab")


def test_explain_analyze_ddl_rejected(engine):
    """Port of testExplainAnalyzeDDL (java:302): EXPLAIN ANALYZE of a
    non-query statement must be rejected, not executed."""
    with pytest.raises(Exception, match="doesn't support statement type"):
        engine.sql("EXPLAIN ANALYZE DROP TABLE orders", dialect="presto")
    # query forms still work
    out = engine.sql(
        "EXPLAIN ANALYZE SELECT count(*) AS c FROM nation", dialect="presto"
    ).collect()
    assert "=" in out[0].query_plan


def test_explain_never_executes_side_effects(engine, spark):
    """Round-12 ADVICE: ExplainTask.java only PLANS the inner statement —
    EXPLAIN (TYPE VALIDATE|LOGICAL|DISTRIBUTED|IO) of an INSERT/DDL must
    not run it.  (Spark executes DML eagerly through spark.sql, so the
    guard routes non-queries through Spark's plan-only EXPLAIN.)"""
    spark.sql("DROP TABLE IF EXISTS expl_guard_t")
    spark.sql("CREATE TABLE expl_guard_t (a int) USING parquet")
    try:
        spark.sql("INSERT INTO expl_guard_t VALUES (1)")
        for etype in ("VALIDATE", "LOGICAL", "DISTRIBUTED", "IO"):
            out = engine.sql(
                f"EXPLAIN (TYPE {etype}) INSERT INTO expl_guard_t VALUES (99)",
                dialect="presto",
            ).collect()
            assert len(out) == 1
            assert spark.table("expl_guard_t").count() == 1, etype
        # plan text is real for the plan-returning variants
        pl = engine.sql(
            "EXPLAIN (TYPE DISTRIBUTED) INSERT INTO expl_guard_t VALUES (99)",
            dialect="presto",
        ).collect()[0].query_plan
        assert "Insert" in pl
        # VALIDATE of a broken statement still fails analysis
        with pytest.raises(Exception):
            engine.sql(
                "EXPLAIN (TYPE VALIDATE) INSERT INTO expl_guard_t "
                "SELECT no_such_col FROM nation",
                dialect="presto",
            )
        assert spark.table("expl_guard_t").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS expl_guard_t")


def test_explain_analyze_dml_allowed(engine, spark):
    """Round-12 ADVICE: the reference rejects only DATA_DEFINITION under
    EXPLAIN ANALYZE (SqlQueryManager.java:441 via StatementUtils) — DML
    is executed and reported, so INSERT must run exactly once."""
    spark.sql("DROP TABLE IF EXISTS expl_an_t")
    spark.sql("CREATE TABLE expl_an_t (a int) USING parquet")
    try:
        out = engine.sql(
            "EXPLAIN ANALYZE INSERT INTO expl_an_t VALUES (5)", dialect="presto"
        ).collect()
        assert len(out) == 1
        spark.catalog.refreshTable("expl_an_t")
        assert spark.table("expl_an_t").count() == 1
        # data definition still rejected
        with pytest.raises(Exception, match="doesn't support statement type"):
            engine.sql("EXPLAIN ANALYZE CREATE SCHEMA expl_an_s", dialect="presto")
    finally:
        spark.sql("DROP TABLE IF EXISTS expl_an_t")


def test_call_named_args_bind_by_declared_position(engine):
    """Round-12 ADVICE: CALL p(z => 9) on proc(x, y, z) must bind z at
    its DECLARED index (CallTask.java), not compact named args into a
    positional prefix."""
    calls = []
    engine.register_procedure(
        "testing.bind3",
        ["x", "y", "z"],
        lambda x=None, y=None, z=None: calls.append((x, y, z)),
    )
    engine.sql("CALL testing.bind3(z => 9)", dialect="presto")
    assert calls[-1] == (None, None, 9)
    engine.sql("CALL testing.bind3(y => 5)", dialect="presto")
    assert calls[-1] == (None, 5, None)
    engine.sql("CALL testing.bind3(x => 1, z => 3)", dialect="presto")
    assert calls[-1] == (1, None, 3)


def test_call_named_args_keep_declared_defaults(engine):
    """r13 (ADVICE): unset optionals — middle OR trailing — must fall
    back to the procedure callable's DECLARED defaults (CallTask fills
    unset optionals with their declared default values), not be
    overridden with None by positional padding."""
    calls = []
    engine.register_procedure(
        "testing.defaults3",
        ["a", "b", "c"],
        lambda a=10, b=20, c=30: calls.append((a, b, c)),
    )
    engine.sql("CALL testing.defaults3(a => 1, c => 3)", dialect="presto")
    assert calls[-1] == (1, 20, 3)  # middle optional keeps its default
    engine.sql("CALL testing.defaults3(b => 2)", dialect="presto")
    assert calls[-1] == (10, 2, 30)


def test_rewrite_table_durable_on_midflight_failure(spark, monkeypatch):
    """Round-12 top task: the RENAME/DROP COLUMN rewrite fallback must
    stage to a tmp table BEFORE dropping the original — a writer crash
    mid-rewrite leaves the table fully intact (the prior form dropped
    first and held the new copy only in session-local checkpoint
    blocks)."""
    from pyspark.sql.readwriter import DataFrameWriter

    spark.sql("DROP TABLE IF EXISTS durab_t")
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string").write.saveAsTable(
        "durab_t"
    )
    try:
        real = DataFrameWriter.saveAsTable

        def boom(self, name, *a, **k):
            if "__rewrite_tmp" in name:
                raise RuntimeError("simulated executor crash mid-write")
            return real(self, name, *a, **k)

        monkeypatch.setattr(DataFrameWriter, "saveAsTable", boom)
        with pytest.raises(RuntimeError, match="simulated"):
            ddl.drop_column(spark, "durab_t", "name")
        monkeypatch.setattr(DataFrameWriter, "saveAsTable", real)
        # original table fully intact, no tmp left behind
        assert sorted(r.id for r in spark.table("durab_t").collect()) == [1, 2]
        assert spark.table("durab_t").columns == ["id", "name"]
        assert not spark.catalog.tableExists("durab_t__rewrite_tmp")
        # and the un-patched rewrite still works end-to-end
        ddl.drop_column(spark, "durab_t", "name")
        assert spark.table("durab_t").columns == ["id"]
        assert not spark.catalog.tableExists("durab_t__rewrite_tmp")
    finally:
        spark.sql("DROP TABLE IF EXISTS durab_t")
        spark.sql("DROP TABLE IF EXISTS durab_t__rewrite_tmp")


def test_rename_schema_moves_views(spark):
    """Round-12 task 6: ALTER SCHEMA RENAME must carry views (recreated
    from their defining text AFTER sibling tables move), not silently
    drop them."""
    spark.sql("DROP SCHEMA IF EXISTS renv_src CASCADE")
    spark.sql("DROP SCHEMA IF EXISTS renv_dst CASCADE")
    try:
        ddl.create_schema(spark, "renv_src")
        spark.createDataFrame([(1,), (2,)], "a int").write.saveAsTable("renv_src.base")
        spark.sql(
            "CREATE VIEW renv_src.v AS SELECT a * 10 AS a10 FROM renv_src.base"
        )
        ddl.rename_schema(spark, "renv_src", "renv_dst")
        tabs = {t.name: t.tableType for t in spark.catalog.listTables("renv_dst")}
        assert tabs.get("base") == "MANAGED" and tabs.get("v") == "VIEW"
        # self-references were re-pointed to the new schema, so the
        # moved view still resolves and computes the same result
        assert sorted(r.a10 for r in spark.table("renv_dst.v").collect()) == [10, 20]
        assert "renv_dst.base" in ddl.view_definition(spark, "renv_dst.v").replace("`", "")
    finally:
        spark.sql("DROP SCHEMA IF EXISTS renv_src CASCADE")
        spark.sql("DROP SCHEMA IF EXISTS renv_dst CASCADE")


def test_rename_schema_views_dependency_order_and_literals(spark):
    """r13 (ADVICE): a view defined over a SIBLING VIEW must survive the
    schema rename regardless of catalog enumeration order (recreate
    retries to a fixpoint), and the old.→new. rewrite must not touch
    matching text inside string literals."""
    spark.sql("DROP SCHEMA IF EXISTS rend_src CASCADE")
    spark.sql("DROP SCHEMA IF EXISTS rend_dst CASCADE")
    try:
        ddl.create_schema(spark, "rend_src")
        spark.createDataFrame([(1,), (2,)], "a int").write.saveAsTable("rend_src.base")
        # name the INNER view so it enumerates AFTER the outer one
        # alphabetically — the old single-pass recreation order breaks
        spark.sql("CREATE VIEW rend_src.z_inner AS SELECT a + 1 AS b FROM rend_src.base")
        spark.sql(
            "CREATE VIEW rend_src.a_outer AS "
            "SELECT b, 'tag rend_src.z_inner' AS lit FROM rend_src.z_inner"
        )
        ddl.rename_schema(spark, "rend_src", "rend_dst")
        rows = spark.table("rend_dst.a_outer").orderBy("b").collect()
        assert [r.b for r in rows] == [2, 3]
        # the literal kept the OLD schema spelling verbatim
        assert rows[0].lit == "tag rend_src.z_inner"
    finally:
        spark.sql("DROP SCHEMA IF EXISTS rend_src CASCADE")
        spark.sql("DROP SCHEMA IF EXISTS rend_dst CASCADE")


def test_use_schema_and_qualified_resolution(engine, spark):
    """USE <schema> / USE <catalog>.<schema> (grammar SqlBase.g4 `use`):
    later unqualified names resolve in the current schema.  Temp views
    (the engine's fixture tables) stay visible across USE, like the
    reference's session catalog."""
    prev = spark.catalog.currentDatabase()
    spark.sql("DROP SCHEMA IF EXISTS use_s1 CASCADE")
    try:
        ddl.create_schema(spark, "use_s1")
        spark.createDataFrame([(7,)], "v int").write.saveAsTable("use_s1.tq")
        engine.sql("USE use_s1", dialect="presto")
        assert spark.catalog.currentDatabase() == "use_s1"
        # unqualified name now resolves inside use_s1
        assert engine.sql("SELECT v FROM tq", dialect="presto").collect()[0].v == 7
        # catalog-qualified spelling routes to the schema part
        engine.sql(f"USE hive.{prev}", dialect="presto")
        assert spark.catalog.currentDatabase() == prev
        with pytest.raises(ValueError, match="does not exist"):
            engine.sql("USE no_such_schema_xyz", dialect="presto")
    finally:
        spark.catalog.setCurrentDatabase(prev)
        spark.sql("DROP SCHEMA IF EXISTS use_s1 CASCADE")


def test_transactions_fail_with_reason(engine):
    """START TRANSACTION / COMMIT / ROLLBACK are a documented by-design
    skip — the user gets the reason, not a Spark parse error."""
    for stmt in ("START TRANSACTION", "COMMIT", "ROLLBACK", "commit work"):
        with pytest.raises(NotImplementedError, match="transactions are not supported"):
            engine.sql(stmt, dialect="presto")


@pytest.fixture()
def redis_stub():
    """In-process RESP server (stdlib sockets) — enough of the redis
    wire protocol (SCAN/MGET/GET/PING) to exercise the redis_kv
    DataSource end-to-end from executor Python workers."""
    import fnmatch
    import socket
    import threading

    data = {f"dict:{i}": f'{{"n": {i}, "word": "w{i}"}}' for i in range(25)}
    data["other:zzz"] = "not-matched"

    def encode(v):
        if v is None:
            return b"$-1\r\n"
        if isinstance(v, int):
            return f":{v}\r\n".encode()
        if isinstance(v, list):
            return f"*{len(v)}\r\n".encode() + b"".join(encode(x) for x in v)
        b = v.encode()
        return f"${len(b)}\r\n".encode() + b + b"\r\n"

    def read_command(buf, conn):
        while b"\r\n" not in buf[0]:
            chunk = conn.recv(65536)
            if not chunk:
                return None
            buf[0] += chunk
        line, buf[0] = buf[0].split(b"\r\n", 1)
        if not line.startswith(b"*"):
            return None
        n = int(line[1:])
        args = []
        for _ in range(n):
            while b"\r\n" not in buf[0]:
                buf[0] += conn.recv(65536)
            hdr, buf[0] = buf[0].split(b"\r\n", 1)
            size = int(hdr[1:])
            while len(buf[0]) < size + 2:
                buf[0] += conn.recv(65536)
            args.append(buf[0][:size].decode())
            buf[0] = buf[0][size + 2 :]
        return args

    def serve(conn):
        buf = [b""]
        try:
            while True:
                cmd = read_command(buf, conn)
                if cmd is None:
                    return
                op = cmd[0].upper()
                if op == "PING":
                    conn.sendall(b"+PONG\r\n")
                elif op == "SCAN":
                    # toy cursor: page everything in one reply
                    pattern = "*"
                    if "MATCH" in [c.upper() for c in cmd]:
                        pattern = cmd[[c.upper() for c in cmd].index("MATCH") + 1]
                    keys = sorted(k for k in data if fnmatch.fnmatch(k, pattern))
                    conn.sendall(encode(["0", keys]))
                elif op == "MGET":
                    conn.sendall(encode([data.get(k) for k in cmd[1:]]))
                elif op == "GET":
                    conn.sendall(encode(data.get(cmd[1])))
                else:
                    conn.sendall(b"-ERR unknown command\r\n")
        except OSError:
            pass
        finally:
            conn.close()

    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    stop = threading.Event()

    def accept_loop():
        srv.settimeout(0.2)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            threading.Thread(target=serve, args=(conn,), daemon=True).start()

    t = threading.Thread(target=accept_loop, daemon=True)
    t.start()
    yield port
    stop.set()
    srv.close()


def test_redis_datasource(spark, redis_stub):
    """presto-redis analog end-to-end: the pure-Python redis_kv
    DataSource (RESP over stdlib sockets, SCAN+MGET batching,
    split-per-node) scans a live server from executor workers, and the
    existing record-decoder tier types the values — the same
    connector/decoder split the reference uses (RedisSplitManager.java /
    presto-record-decoder)."""
    from prestodb_presto_spark.sources.decoders import decode_json
    from prestodb_presto_spark.sources.redis_source import register_redis

    register_redis(spark)
    df = (
        spark.read.format("redis_kv")
        .option("nodes", f"127.0.0.1:{redis_stub}")
        .option("pattern", "dict:*")
        .option("mget_batch", "7")  # force multiple MGET round-trips
        .load()
    )
    rows = df.collect()
    assert len(rows) == 25
    assert {r.key for r in rows} == {f"dict:{i}" for i in range(25)}
    # record-decoder tier on the value column (presto-redis json decoder)
    typed = df.select(
        "key", decode_json("value", "n int, word string").alias("v")
    ).select("key", "v.n", "v.word")
    got = {r.n: r.word for r in typed.collect()}
    assert got == {i: f"w{i}" for i in range(25)}
    # pattern pushdown: non-matching keys never surface
    assert not [r for r in rows if r.key.startswith("other:")]


def test_resp_client_protocol(redis_stub):
    """RespClient wire-level checks against the stub (bulk/array/null
    replies, MGET null for a missing key)."""
    from prestodb_presto_spark.sources.redis_source import RespClient

    c = RespClient("127.0.0.1", redis_stub)
    try:
        assert c.command("PING") == "PONG"
        cursor, keys = c.command("SCAN", "0", "MATCH", "dict:1?", "COUNT", "10")
        assert cursor == "0" and len(keys) == 10
        vals = c.command("MGET", "dict:3", "no_such_key")
        assert vals[0].startswith('{"n": 3') and vals[1] is None
    finally:
        c.close()


@pytest.fixture()
def mongo_stub():
    """In-process MongoDB OP_MSG server: find/getMore with a paging
    cursor (2 pages), projection honored — enough wire protocol to run
    the mongo_kv DataSource end-to-end from executor workers."""
    import socket
    import struct
    import threading

    from prestodb_presto_spark.sources.mongo_source import bson_decode, bson_encode

    docs = [
        {"_id": i, "x": i, "name": f"n{i}", "score": i * 1.5, "flag": i % 2 == 0}
        for i in range(23)
    ]
    state = {"cursors": {}, "next_id": 71}

    def project(doc, projection):
        if not projection:
            return dict(doc)
        keep = {k for k, v in projection.items() if v}
        out = {k: v for k, v in doc.items() if k in keep}
        if not projection.get("_id", 1):
            out.pop("_id", None)
        return out

    def reply_for(cmd):
        if "find" in cmd:
            proj = cmd.get("projection", {})
            rows = [project(d, proj) for d in docs]
            first, rest = rows[:10], rows[10:]
            cid = 0
            if rest:
                cid = state["next_id"]
                state["next_id"] += 1
                state["cursors"][cid] = rest
            return {
                "cursor": {"id": cid, "ns": "db.events", "firstBatch": first},
                "ok": 1.0,
            }
        if "getMore" in cmd:
            cid = cmd["getMore"]
            rest = state["cursors"].pop(cid, [])
            nxt, remain = rest[:10], rest[10:]
            new_id = 0
            if remain:
                new_id = cid
                state["cursors"][cid] = remain
            return {
                "cursor": {"id": new_id, "ns": "db.events", "nextBatch": nxt},
                "ok": 1.0,
            }
        return {"ok": 0.0, "errmsg": "unknown command"}

    def serve(conn):
        try:
            while True:
                hdr = b""
                while len(hdr) < 16:
                    c = conn.recv(16 - len(hdr))
                    if not c:
                        return
                    hdr += c
                length, req, _resp, _op = struct.unpack("<iiii", hdr)
                payload = b""
                while len(payload) < length - 16:
                    payload += conn.recv(length - 16 - len(payload))
                cmd, _ = bson_decode(payload, 5)
                body = struct.pack("<i", 0) + b"\x00" + bson_encode(reply_for(cmd))
                conn.sendall(
                    struct.pack("<iiii", 16 + len(body), 1, req, 2013) + body
                )
        except OSError:
            pass
        finally:
            conn.close()

    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    stop = threading.Event()

    def accept_loop():
        srv.settimeout(0.2)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            threading.Thread(target=serve, args=(conn,), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()
    yield port
    stop.set()
    srv.close()


def test_mongo_datasource(spark, mongo_stub):
    """presto-mongodb analog end-to-end: the pure-Python mongo_kv
    DataSource (OP_MSG + hand-rolled BSON, split-per-mongos, cursor
    find/getMore paging = MongoPageSource's loop) reads typed rows with
    source-side projection."""
    from prestodb_presto_spark.sources.mongo_source import register_mongo

    register_mongo(spark)
    df = (
        spark.read.format("mongo_kv")
        .option("nodes", f"127.0.0.1:{mongo_stub}")
        .option("database", "db")
        .option("collection", "events")
        .option("schema", "x bigint, name string, score double, flag boolean")
        .option("batch_size", "10")  # force the getMore path (3 pages)
        .load()
    )
    rows = sorted(df.collect(), key=lambda r: r.x)
    assert len(rows) == 23
    assert rows[3].x == 3 and rows[3].name == "n3"
    assert rows[3].score == 4.5 and rows[3].flag is False
    # schema option is mandatory, like the reference's declared schema
    with pytest.raises(Exception, match="requires option 'schema'"):
        spark.read.format("mongo_kv").option(
            "nodes", f"127.0.0.1:{mongo_stub}"
        ).load().collect()


def test_bson_roundtrip():
    """BSON encoder/decoder subset: every scalar the reference's
    MongoMetadata maps, plus nesting and arrays."""
    from prestodb_presto_spark.sources.mongo_source import bson_decode, bson_encode

    doc = {
        "d": 2.5, "s": "héllo", "b_true": True, "b_false": False,
        "nil": None, "i32": 42, "i64": 1 << 40, "neg": -7,
        "sub": {"k": "v", "n": 1}, "arr": [1, "two", 3.0, None],
    }
    back, offset = bson_decode(bson_encode(doc))
    assert back == doc
    assert offset == len(bson_encode(doc))


def test_explain_type_io_json(engine, spark):
    """EXPLAIN (TYPE IO) now emits the reference's IOPlanPrinter shape
    (JSON of input tables, the columns actually read, and per-column
    pushed constraints) — derived from the EXECUTABLE plan, so column
    pruning and filter pushdown are visible, and side-effecting
    statements still never run."""
    import json

    out = engine.sql(
        "EXPLAIN (TYPE IO) SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE o_orderkey < 100 AND o_orderstatus = 'F'",
        dialect="presto",
    ).collect()[0].query_plan
    doc = json.loads(out)
    info = doc["inputTableColumnInfos"][0]
    assert info["format"] == "parquet"
    cols = {c["columnName"] for c in info["columns"]}
    # pruned read: only the 3 referenced columns reach the scan
    assert cols == {"o_orderkey", "o_orderstatus", "o_totalprice"}
    cons = {c["columnName"]: c["pushedFilters"] for c in info["columnConstraints"]}
    assert any("LessThan" in p for p in cons["o_orderkey"])
    assert any("EqualTo" in p for p in cons["o_orderstatus"])
    # non-query form: plan-only, with the output table reported
    spark.sql("DROP TABLE IF EXISTS io_probe_t")
    spark.sql("CREATE TABLE io_probe_t (a int) USING parquet")
    try:
        out2 = engine.sql(
            "EXPLAIN (TYPE IO) INSERT INTO io_probe_t SELECT CAST(n_nationkey"
            " AS INT) FROM nation",
            dialect="presto",
        ).collect()[0].query_plan
        doc2 = json.loads(out2)
        assert doc2["outputTable"]["schemaTable"]["table"] == "io_probe_t"
        assert spark.table("io_probe_t").count() == 0  # never executed
    finally:
        spark.sql("DROP TABLE IF EXISTS io_probe_t")


@pytest.fixture()
def cassandra_stub():
    """In-process CQL native-protocol-v4 server: STARTUP/READY handshake,
    QUERY with page_size + paging_state, RESULT rows with global spec —
    enough of the public wire protocol to run the cassandra_cql
    DataSource end-to-end, including ranged token scans."""
    import re as _re
    import socket
    import struct
    import threading

    rows = [(i, f"n{i}", i * 0.5) for i in range(27)]  # id, name, score
    COLS = [("id", 0x0002), ("name", 0x000D), ("score", 0x0007)]

    def enc_string(s):
        b = s.encode()
        return struct.pack(">H", len(b)) + b

    def enc_value(v, opt):
        if v is None:
            return struct.pack(">i", -1)
        if opt == 0x0002:
            b = struct.pack(">q", v)
        elif opt == 0x0007:
            b = struct.pack(">d", v)
        else:
            b = str(v).encode()
        return struct.pack(">i", len(b)) + b

    def result_frame(stream, page, more_state):
        flags = 0x01 | (0x02 if more_state is not None else 0)
        meta = struct.pack(">ii", flags, len(COLS))
        if more_state is not None:
            meta += struct.pack(">i", len(more_state)) + more_state
        meta += enc_string("ks") + enc_string("events")
        for name, opt in COLS:
            meta += enc_string(name) + struct.pack(">H", opt)
        body = struct.pack(">i", 2) + meta + struct.pack(">i", len(page))
        for r in page:
            for v, (_n, opt) in zip(r, COLS):
                body += enc_value(v, opt)
        return struct.pack(">BBhBi", 0x84, 0, stream, 0x08, len(body)) + body

    def serve(conn):
        try:
            while True:
                hdr = b""
                while len(hdr) < 9:
                    c = conn.recv(9 - len(hdr))
                    if not c:
                        return
                    hdr += c
                _v, _f, stream, opcode, length = struct.unpack(">BBhBi", hdr)
                body = b""
                while len(body) < length:
                    body += conn.recv(length - len(body))
                if opcode == 0x01:  # STARTUP -> READY
                    conn.sendall(struct.pack(">BBhBi", 0x84, 0, stream, 0x02, 0))
                    continue
                if opcode != 0x07:
                    conn.sendall(struct.pack(">BBhBi", 0x84, 0, stream, 0x00, 10)
                                 + struct.pack(">i", 10) + enc_string("bad?"))
                    continue
                n = struct.unpack_from(">i", body)[0]
                cql = body[4 : 4 + n].decode()
                pos = 4 + n + 2  # skip consistency
                qflags = body[pos]; pos += 1
                page_size = 100
                if qflags & 0x04:
                    page_size = struct.unpack_from(">i", body, pos)[0]; pos += 4
                start = 0
                if qflags & 0x08:
                    sn = struct.unpack_from(">i", body, pos)[0]; pos += 4
                    start = int(body[pos : pos + sn].decode())
                data = rows
                m = _re.search(r"token\(id\) > (-?\d+) AND token\(id\) <= (-?\d+)", cql)
                if m:
                    lo, hi = int(m.group(1)), int(m.group(2))
                    data = [r for r in rows if lo < r[0] <= hi]
                page = data[start : start + page_size]
                nxt = start + page_size
                state = str(nxt).encode() if nxt < len(data) else None
                conn.sendall(result_frame(stream, page, state))
        except OSError:
            pass
        finally:
            conn.close()

    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    stop = threading.Event()

    def accept_loop():
        srv.settimeout(0.2)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            threading.Thread(target=serve, args=(conn,), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()
    yield port
    stop.set()
    srv.close()


def test_cassandra_datasource(spark, cassandra_stub):
    """presto-cassandra analog end-to-end: the pure-Python cassandra_cql
    DataSource (CQL native v4: STARTUP handshake, paged QUERY loop =
    CassandraRecordCursor, declared columns in the generated SELECT)
    reads typed rows through executor workers with cursor paging."""
    from prestodb_presto_spark.sources.cassandra_source import register_cassandra

    register_cassandra(spark)
    df = (
        spark.read.format("cassandra_cql")
        .option("nodes", f"127.0.0.1:{cassandra_stub}")
        .option("keyspace", "ks")
        .option("table", "events")
        .option("schema", "id bigint, name string, score double")
        .option("page_size", "10")  # 27 rows -> 3 pages per split
        .load()
    )
    rows = sorted(df.collect(), key=lambda r: r.id)
    assert len(rows) == 27
    assert rows[5].id == 5 and rows[5].name == "n5" and rows[5].score == 2.5


def test_cassandra_token_range_splits(spark, cassandra_stub):
    """Token-range splits (CassandraSplitManager): ranged WHERE
    fragments partition the ring; the union covers every row once."""
    df = (
        spark.read.format("cassandra_cql")
        .option("nodes", f"127.0.0.1:{cassandra_stub}")
        .option("keyspace", "ks")
        .option("table", "events")
        .option("schema", "id bigint, name string, score double")
        .option("token_ranges", "-1:9,9:18,18:100")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    ids = sorted(r.id for r in df.collect())
    assert ids == list(range(27))


@pytest.fixture()
def kafka_stub():
    """In-process Kafka broker (wire protocol: Metadata v0 + Fetch v0,
    legacy magic-0 message sets with real CRCs) — a 2-partition topic so
    the split-per-partition path is exercised, with fetch responses
    capped to force multiple round-trips."""
    import json
    import socket
    import struct
    import threading
    import zlib

    def message(key, value):
        body = b"\x00\x00"  # magic 0, attributes 0
        body += struct.pack(">i", -1) if key is None else struct.pack(">i", len(key)) + key
        body += struct.pack(">i", len(value)) + value
        return struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body

    def kstr(s):
        b = s.encode()
        return struct.pack(">h", len(b)) + b

    # partition 0: even ids; partition 1: odd ids
    parts = {0: [], 1: []}
    for i in range(30):
        parts[i % 2].append(
            message(f"k{i}".encode(), json.dumps({"x": i, "w": f"v{i}"}).encode())
        )

    def message_set(msgs, start):
        out = b""
        for off, m in enumerate(msgs[start:], start):
            out += struct.pack(">qi", off, len(m)) + m
        return out

    srv = socket.create_server(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    host = "127.0.0.1"
    stop = threading.Event()

    def reply_metadata(corr, topic):
        body = struct.pack(">i", 1) + struct.pack(">i", 0) + kstr(host) + struct.pack(">i", port)
        if topic != "events":
            # error 3 = UNKNOWN_TOPIC_OR_PARTITION, no partitions
            body += struct.pack(">i", 1) + struct.pack(">h", 3) + kstr(topic)
            body += struct.pack(">i", 0)
            return struct.pack(">i", corr) + body
        body += struct.pack(">i", 1) + struct.pack(">h", 0) + kstr(topic)
        body += struct.pack(">i", 2)
        for pid in (0, 1):
            body += struct.pack(">hii", 0, pid, 0)
            body += struct.pack(">ii", 1, 0)   # replicas [0]
            body += struct.pack(">ii", 1, 0)   # isr [0]
        return struct.pack(">i", corr) + body

    def reply_fetch(corr, topic, pid, offset):
        msgs = parts[pid]
        # cap each response at 4 messages to force the paging loop
        ms = message_set(msgs[: min(offset + 4, len(msgs))], offset)
        body = struct.pack(">i", 1) + kstr(topic) + struct.pack(">i", 1)
        body += struct.pack(">ihqi", pid, 0, len(msgs), len(ms)) + ms
        return struct.pack(">i", corr) + body

    def serve(conn):
        try:
            while True:
                raw = b""
                while len(raw) < 4:
                    c = conn.recv(4 - len(raw))
                    if not c:
                        return
                    raw += c
                size = struct.unpack(">i", raw)[0]
                req = b""
                while len(req) < size:
                    req += conn.recv(size - len(req))
                api, _ver, corr = struct.unpack_from(">hhi", req)
                pos = 8
                cn = struct.unpack_from(">h", req, pos)[0]
                pos += 2 + max(cn, 0)
                if api == 3:  # Metadata
                    pos += 4  # topics count (1)
                    tn = struct.unpack_from(">h", req, pos)[0]
                    topic = req[pos + 2 : pos + 2 + tn].decode()
                    out = reply_metadata(corr, topic)
                elif api == 1:  # Fetch
                    pos += 12 + 4  # replica/max_wait/min_bytes + topics count
                    tn = struct.unpack_from(">h", req, pos)[0]
                    topic = req[pos + 2 : pos + 2 + tn].decode()
                    pos += 2 + tn + 4  # + partitions count
                    pid, offset, _mb = struct.unpack_from(">iqi", req, pos)
                    out = reply_fetch(corr, topic, pid, offset)
                else:
                    out = struct.pack(">i", corr)
                conn.sendall(struct.pack(">i", len(out)) + out)
        except OSError:
            pass
        finally:
            conn.close()

    def accept_loop():
        srv.settimeout(0.2)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            threading.Thread(target=serve, args=(conn,), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()
    yield port
    stop.set()
    srv.close()


def test_kafka_py_datasource(spark, kafka_stub):
    """presto-kafka analog end-to-end over the PUBLIC wire protocol:
    split-per-topic-partition (KafkaSplit.java:34), offset-paged fetch
    loop, CRC-verified legacy message sets — then the record-decoder
    tier types the JSON values, completing the reference's
    connector/decoder split with zero external dependencies."""
    from prestodb_presto_spark.sources.decoders import decode_json
    from prestodb_presto_spark.sources.kafka_source import register_kafka_py

    register_kafka_py(spark)
    df = (
        spark.read.format("kafka_py")
        .option("bootstrap", f"127.0.0.1:{kafka_stub}")
        .option("topic", "events")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one split per topic-partition
    rows = df.collect()
    assert len(rows) == 30
    assert {r.partition for r in rows} == {0, 1}
    # offsets are contiguous per partition
    offs = sorted(r.offset for r in rows if r.partition == 0)
    assert offs == list(range(15))
    typed = df.select(
        df.key.cast("string").alias("k"),
        decode_json(df.value.cast("string"), "x int, w string").alias("v"),
    ).select("k", "v.x", "v.w")
    got = {r.x: (r.k, r.w) for r in typed.collect()}
    assert got[7] == ("k7", "v7") and len(got) == 30


def test_kafka_py_missing_topic(spark, kafka_stub):
    from prestodb_presto_spark.sources.kafka_source import register_kafka_py

    register_kafka_py(spark)
    with pytest.raises(Exception, match="topic not found|no such"):
        (
            spark.read.format("kafka_py")
            .option("bootstrap", f"127.0.0.1:{kafka_stub}")
            .option("topic", "nope")
            .load()
            .collect()
        )


def test_index_lookup_join_redis(spark, redis_stub):
    """IndexJoinOperator analog (operators/indexjoin.py): the probe side
    fetches ONLY its own keys from the remote index (per-task MGET) —
    the build store is never scanned.  Inner drops missing keys, left
    keeps them with null values; key traffic is bounded by the probe."""
    import json

    from prestodb_presto_spark.operators.indexjoin import index_join_redis

    probe = spark.createDataFrame(
        [(f"dict:{i}",) for i in (1, 3, 5, 999)] + [(None,)],
        "k string",
    ).repartition(2)
    inner = index_join_redis(probe, "k", f"127.0.0.1:{redis_stub}")
    rows = {r.k: r.value for r in inner.collect()}
    assert set(rows) == {"dict:1", "dict:3", "dict:5"}  # 999 + null dropped
    assert json.loads(rows["dict:3"])["n"] == 3
    left = index_join_redis(probe, "k", f"127.0.0.1:{redis_stub}", how="left")
    lrows = {r.k: r.value for r in left.collect()}
    assert lrows["dict:999"] is None and len(lrows) == 5  # incl. the null key
    # distributed shape: still a narrow mapInPandas over the probe —
    # no shuffle, no scan of the store
    plan = inner._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
