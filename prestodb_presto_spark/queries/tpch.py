"""TPC-H-shaped queries adapted to the fixture schema (FIXTURES.md).

The reference ships the full dialect set at
presto-benchto-benchmarks/src/main/resources/sql/presto/tpch/q01.sql..q22.sql
and exercises the same shapes in presto-tests/.../AbstractTestQueries.java.
Our fixtures lack partsupp and several columns (l_shipmode, l_commitdate,
c_phone, ...), so queries are adapted: same operator DAG (scan → filter →
join tree → agg → sort/limit), fixture-compatible predicates.

Scale notes (100 TB posture), per query where relevant:
  - region/nation are O(10^1) rows at any SF → always broadcast.
  - customer/supplier/part joins: no hint.  The static planner
    broadcasts the side it estimates under the threshold, and AQE can
    still turn a shuffle join into a broadcast from runtime sizes; at
    100 TB they shuffle on the join key — which is also the aggregation
    key where possible, so one exchange serves both.
  - The broadcast build side is never raw lineitem.  Without CBO Spark
    estimates an inner join at the product of its inputs, so a
    dimension⋈dimension build looks larger than the projected fact
    table and lineitem gets broadcast.  A join that only filters is
    therefore a left-semi join (estimated at its left input), name
    lookups (n_name, c_name) come after the aggregate, and anti joins
    run against the fact table's distinct keys.
    tests/test_plans.py::test_no_broadcast_of_raw_fact_rows checks
    every catalog query's executed plan.
  - Aggregations are expressed so Spark plans partial (map-side) combine;
    group-by cardinality here is tiny vs input rows, so the shuffle after
    partial agg carries only grouped rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.queries import query
from prestodb_presto_spark.queries.util import davg, dec, dsum, t

# Deterministic "extended price * (1 - discount)" — exact decimal product.
REV_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def _rev():
    return dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))


# --- r13 long-cents fast path (guide §1.2 per-task work, §2.3 narrower
# shuffle types) -------------------------------------------------------
#
# The determinism contract (util.py) computes money sums via exact
# DECIMAL casts; Spark executes those with per-row BigDecimal allocation
# once the sum's precision exceeds 18 (A/B: the decimal tax was ~1.0s of
# tpch_q01's 1.32s at sf0.1).  For non-negative 2-decimal TPC-H money
# columns (integral quantities, 2dp prices/rates, NOT NULL — pinned by
# tests/test_tpch_fixture_contract.py), ``cast(x*100 + 0.5 as long)``
# yields exactly the cents ``CAST(x AS DECIMAL(18,2))`` denotes, so the
# whole aggregation becomes exact integer math on longs: identical
# values, no Decimal per row, and 8-byte join/shuffle payloads instead
# of 16-byte double pairs.  Where a group's total can exceed long range
# at the 100 TB design point, sums are split per partition first
# (``_pid``) and the per-partition long partials are merged as
# DECIMAL(38,0) — the 128-bit math runs once per partition, not per row
# (guide §2.5 two-level aggregation).


# The helpers are SQL text, not Column builders: a stacked-Column build
# pays a py4j round-trip per operator (measured ~0.25s of driver time per
# tpch_q01 construction), while a string parses in one call per
# expression.  Call sites use them through selectExpr / F.expr.


def _CENTS_SQL(col: str) -> str:
    """Exact cents of a non-negative 2dp money double (contract above)."""
    return f"cast({col} * 100 + 0.5D as long)"


# extendedprice*(1-discount) in 1e-4 units — exact long per row
_REV_E4_SQL = (
    f"{_CENTS_SQL('l_extendedprice')} * (100 - {_CENTS_SQL('l_discount')})"
)


def _D38SUM_SQL(col: str, unit: int = 1) -> str:
    """Merge per-partition long partials exactly (128-bit, few rows) and
    scale back from integer units in ONE rounding.

    r14 (ADVICE): dividing AFTER the double cast rounded twice — once at
    ``CAST(decimal AS DOUBLE)`` and once at the double division — which
    can diverge ULP-wise from the oracle's single ``CAST(SUM(decimal) AS
    DOUBLE)`` once totals exceed 2^53 in e4/e6 units.  The division now
    runs in DECIMAL: decimal(38,0) / integer literal yields decimal(38,6)
    under Spark's precision-loss rule, and every unit here is ≤ 1e6, so
    the quotient terminates within 6 fractional digits and the decimal
    division is EXACT; the final cast to double is then the only
    rounding, identical to the oracle's."""
    tot = f"sum(cast({col} as decimal(38,0)))"
    if unit != 1:
        tot = f"{tot} / {unit}"
    return f"cast({tot} as double)"


CHARGE_SQL = f"{REV_SQL} * (1 + CAST(l_tax AS DECIMAL(4,2)))"


@query(
    "tpch_q01",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({CHARGE_SQL}) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "aggregation"),
)
def tpch_q01(spark, sf_dir):
    """Pricing summary report: scan→filter→hash agg (partial+final).

    Reference operator: HashAggregationOperator
    (presto-main/.../operator/HashAggregationOperator.java:46); benchmark
    shape: presto-benchmark/.../HandTpchQuery1.java.

    r13 optimization (guide §1.2 per-task work + §2.5 two-level agg): the
    exact decimal aggregation is computed in INTEGER CENTS with long
    arithmetic instead of per-row BigDecimal ops.  The money columns are
    2-decimal TPC-H quantities (integral qty, 2dp prices/rates, NOT NULL
    per spec — pinned by tests/test_tpch_fixture_contract.py), so
    ``cast(x*100 + 0.5 as long)`` yields exactly the cents that
    ``CAST(x AS DECIMAL(18,2))`` denotes, and every SUM is exact integer
    math: identical values, no Decimal allocation per row (A/B sf0.1
    min-of-7: 0.80s vs 1.32s — the whole decimal tax was ~1.0s of a
    1.32s query).  Scale safety at 100 TB (SF≈100k, 6e11 rows): per-row
    charge_e6 ≤ ~1.2e11, so per-PARTITION long partials hold to ~75M max
    rows/partition (a 128 MB parquet split is ~6M rows); the per-
    partition partials are then merged as DECIMAL(38,0) — the second
    aggregate sees only (groups × partitions) rows, so the 128-bit math
    that used to run per input row now runs per partition.
    """
    # r14 (guide §7.3): the projection/aggregate lists are SQL strings —
    # the stacked-Column form paid ~550 py4j round-trips per construction
    # (~0.25s of DRIVER time per bench iteration; measured with cProfile),
    # the string form parses in one call per expression (0.06s).  The
    # parsed plan and results are identical (gate-verified at 3 SFs).
    li = t(spark, sf_dir, "lineitem")
    rows = li.where("l_shipdate <= timestamp'2000-09-02 00:00:00'").selectExpr(
        "l_returnflag",
        "l_linestatus",
        f"{_CENTS_SQL('l_quantity')} AS qty_c",
        f"{_CENTS_SQL('l_extendedprice')} AS ext_c",
        f"{_CENTS_SQL('l_discount')} AS disc_c",
        f"{_CENTS_SQL('l_tax')} AS tax_c",
        f"{_REV_E4_SQL} AS rev_e4",
        f"({_REV_E4_SQL}) * (100 + {_CENTS_SQL('l_tax')}) AS charge_e6",
        "spark_partition_id() AS _pid",
    )
    part = rows.groupBy("l_returnflag", "l_linestatus", "_pid").agg(
        F.expr("sum(qty_c) AS sq"),
        F.expr("sum(ext_c) AS se"),
        F.expr("sum(disc_c) AS sd"),
        F.expr("sum(rev_e4) AS sr"),
        F.expr("sum(charge_e6) AS sc"),
        F.expr("count(*) AS n"),
    )
    # r14: each total is scaled back inside _D38SUM_SQL (exact decimal
    # division, then ONE cast to double — the oracle's rounding); the
    # averages divide that same single-rounded double by the count,
    # matching the oracle's CAST(SUM(..) AS DOUBLE) / COUNT(..) shape.
    tot = part.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(f"{_D38SUM_SQL('sq', 100)} AS sum_qty"),
        F.expr(f"{_D38SUM_SQL('se', 100)} AS sum_base_price"),
        F.expr(f"{_D38SUM_SQL('sd', 100)} AS SD"),
        F.expr(f"{_D38SUM_SQL('sr', 10000)} AS sum_disc_price"),
        F.expr(f"{_D38SUM_SQL('sc', 1000000)} AS sum_charge"),
        F.expr("sum(n) AS count_order"),
    )
    return tot.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "sum_qty / count_order AS avg_qty",
        "sum_base_price / count_order AS avg_price",
        "SD / count_order AS avg_disc",
        "count_order",
    )


@query(
    "tpch_q03",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "topn"),
)
def tpch_q03(spark, sf_dir):
    """Shipping priority: 3-way join → agg → top-N.

    Reference: LookupJoinOperator/HashBuilderOperator
    (operator/LookupJoinOperator.java:53, HashBuilderOperator.java:51) +
    TopNOperator (operator/TopNOperator.java:35).  Spark: customer only
    filters orders, so it is a left-semi join (module note on build
    sides) and the orders slice is the broadcast build (10,068 rows at
    sf0.1) that lineitem probes; an inner customer⋈orders join would
    broadcast 406k raw lineitem rows instead.  Top-N is
    TakeOrderedAndProject (no full sort at scale).
    """
    cust = t(spark, sf_dir, "customer").where("c_mktsegment = 'BUILDING'")
    orders = (
        t(spark, sf_dir, "orders")
        .where("o_orderdate < timestamp'1997-03-15 00:00:00'")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_orderdate")
    )
    # r13: revenue in exact 1e-4-unit longs, derived BEFORE the join — the
    # join/shuffle carries one 8-byte long instead of two doubles, and the
    # per-order sum is pure long math (a TPC-H order has ≤ 7 lines, so the
    # per-group total is ≤ ~7e9 — no 128-bit merge needed at any SF).
    # r14: SQL-string construction (guide §7.3 — see _CENTS_SQL note).
    li = t(spark, sf_dir, "lineitem").where(
        "l_shipdate > timestamp'1997-03-15 00:00:00'"
    ).selectExpr("l_orderkey", f"{_REV_E4_SQL} AS rev_e4")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", F.expr("to_date(o_orderdate) AS o_orderdate"))
        .agg(F.expr("sum(rev_e4) / 10000.0D AS revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q04",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("tpch", "semijoin", "subquery"),
)
def tpch_q04(spark, sf_dir):
    """Order-priority checking: EXISTS → left-semi join.

    Reference: HashSemiJoinOperator/SetBuilderOperator
    (operator/HashSemiJoinOperator.java:32, SetBuilderOperator.java:36);
    decorrelation rule TransformExistsApplyToLateralNode.

    Spark can build a left-semi join only on its right side, so
    ``orders ⋉ lineitem`` would broadcast every raw lineitem row.  Here the
    quarter's orders are the build of an inner join that lineitem
    probes, and the EXISTS becomes the distinct matching orders: an
    aggregate over the joined rows, shuffled on o_orderkey.
    """
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    exists = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return exists.groupBy("o_orderpriority").agg(F.count("*").alias("order_count")).orderBy(
        "o_orderpriority"
    )


@query(
    "tpch_q05",
    oracle=f"""
    SELECT n_name, CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("tpch", "join"),
)
def tpch_q05(spark, sf_dir):
    """Local supplier volume: 6-way join with the region predicate
    pushed down BOTH dimension paths before the fact table is touched.

    nation⋈region('ASIA') is O(10) rows at any SF → broadcast, and it
    only filters supplier and customer, so both are left-semi joins
    (the 1-region slices, ~20% of each; module note on build sides).
    As an inner join the supplier slice would be estimated at 12 GiB,
    against 2.8 MiB for the projected lineitem at sf0.1, and all 600k
    raw lineitem rows would be broadcast.  lineitem probes the supplier
    slice, the year's orders and the customer slice in turn, each the
    build side of its join; at 100 TB the supplier join drops ~80% of
    lineitem before anything shuffles.  The residual
    c_nationkey = s_nationkey equality rides the customer join, and the
    nation name is looked up after the per-nation aggregate.
    """
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    # r13: exact revenue longs derived before any join (narrower shuffle
    # payload + no per-row decimal); per-nation totals can exceed long at
    # 100 TB, so the final sum is two-level (per-partition long partials
    # merged as decimal — see the module note above).
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "l_suppkey", f"{_REV_E4_SQL} AS rev_e4"
    )
    geo = (
        t(spark, sf_dir, "nation")
        .join(
            F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp_a = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(geo), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_nationkey")
    )
    cust_a = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(geo), F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
    )
    return (
        li.join(supp_a, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust_a,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("s_nationkey", F.expr("spark_partition_id() AS _pid"))
        .agg(F.expr("sum(rev_e4) AS sr"))
        .groupBy("s_nationkey")
        .agg(F.expr(f"{_D38SUM_SQL('sr', 10000)} AS revenue"))
        .join(F.broadcast(geo), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "revenue")
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "tpch_q06",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "filter", "aggregation"),
)
def tpch_q06(spark, sf_dir):
    """Revenue forecast: scan→filter→global agg; all predicates push to parquet.

    Reference shape: presto-benchmark/.../HandTpchQuery6.java; operators
    ScanFilterAndProjectOperator (operator/ScanFilterAndProjectOperator.java:52)
    + AggregationOperator (operator/AggregationOperator.java:35).
    """
    li = t(spark, sf_dir, "lineitem")
    # r13: exact ext*disc in 1e-4-unit longs; the single global group can
    # overflow long at extreme SF, so partials per partition, decimal merge
    return (
        li.where(
            "l_shipdate >= timestamp'1997-01-01 00:00:00'"
            " AND l_shipdate < timestamp'1998-01-01 00:00:00'"
            " AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        )
        .selectExpr(
            f"{_CENTS_SQL('l_extendedprice')} * {_CENTS_SQL('l_discount')} AS rd_e4",
            "spark_partition_id() AS _pid",
        )
        .groupBy("_pid")
        .agg(F.expr("sum(rd_e4) AS s"))
        .agg(F.expr(f"{_D38SUM_SQL('s', 10000)} AS revenue"))
    )


@query(
    "tpch_q07",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             {REV_SQL} AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                    JOIN orders   ON o_orderkey = l_orderkey
                    JOIN customer ON c_custkey = o_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_nationkey = 1 AND n2.n_nationkey = 2)
          OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1998-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join"),
)
def tpch_q07(spark, sf_dir):
    """Volume shipping between two nations; nation joined twice (aliased)."""
    supp = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1998-12-31").cast("timestamp")
        )
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    n1 = F.broadcast(t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ))
    df = (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("n1_key") == 1) & (F.col("n2_key") == 2))
            | ((F.col("n1_key") == 2) & (F.col("n2_key") == 1))
        )
        .selectExpr(
            "supp_nation",
            "cust_nation",
            "cast(year(l_shipdate) as long) AS l_year",
            f"{_REV_E4_SQL} AS volume_e4",  # r13: exact long, not decimal
            "spark_partition_id() AS _pid",
        )
    )
    return (
        df.groupBy("supp_nation", "cust_nation", "l_year", "_pid")
        .agg(F.expr("sum(volume_e4) AS sv"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr(f"{_D38SUM_SQL('sv', 10000)} AS revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q08",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation_key = 3 THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             {REV_SQL} AS volume,
             n2.n_nationkey AS nation_key
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region   ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type LIKE 'PROMO%'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("tpch", "join", "case"),
)
def tpch_q08(spark, sf_dir):
    """National market share: 8-way join + conditional aggregation ratio."""
    part = t(spark, sf_dir, "part").filter(F.col("p_type").like("PROMO%"))
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    cust = t(spark, sf_dir, "customer")
    n1 = F.broadcast(t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    ))
    n2 = F.broadcast(t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_nationkey").alias("nation_key")
    ))
    region = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA"))
    df = (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(region, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.expr(_REV_E4_SQL).alias("volume_e4"),  # r13: exact long, not decimal
            "nation_key",
        )
    )
    # r13 two-level: numerator/denominator as per-partition long partials,
    # decimal merge; the final ratio divides the same exact doubles the
    # decimal form produced (num_double/1e4 ÷ den_double/1e4 would change
    # rounding, so BOTH are scaled by /1e4 first, exactly like the oracle's
    # CAST(SUM(..) AS DOUBLE) pair)
    part = df.groupBy("o_year", F.spark_partition_id().alias("_pid")).agg(
        F.sum(
            F.when(F.col("nation_key") == 3, F.col("volume_e4")).otherwise(F.lit(0))
        ).alias("s3"),
        F.sum("volume_e4").alias("sall"),
    )
    return (
        part.groupBy("o_year")
        .agg(
            F.expr(f"{_D38SUM_SQL('s3', 10000)} / {_D38SUM_SQL('sall', 10000)}").alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q09",
    oracle=f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             EXTRACT(year FROM o_orderdate) AS o_year,
             {REV_SQL} - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN orders   ON o_orderkey = l_orderkey
                JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join", "like"),
)
def tpch_q09(spark, sf_dir):
    """Product-type profit (adapted: p_retailprice stands in for ps_supplycost)."""
    part = t(spark, sf_dir, "part").where("p_name LIKE '%red%'").selectExpr(
        "p_partkey", f"{_CENTS_SQL('p_retailprice')} AS retail_c"
    )
    # r13: amount in exact 1e-4-unit longs — rev_e4 minus retail_c*qty_c
    # (both 2dp-exact cents products); per-(nation,year) totals exceed
    # long at 100 TB → two-level sum (long partials, decimal merge)
    li = t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "l_suppkey", "l_orderkey",
        f"{_REV_E4_SQL} AS rev_e4", f"{_CENTS_SQL('l_quantity')} AS qty_c",
    )
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .selectExpr(
            "n_name AS nation",
            "cast(year(o_orderdate) as long) AS o_year",
            "rev_e4 - retail_c * qty_c AS amount_e4",
            "spark_partition_id() AS _pid",
        )
        .groupBy("nation", "o_year", "_pid")
        .agg(F.expr("sum(amount_e4) AS sa"))
        .groupBy("nation", "o_year")
        .agg(F.expr(f"{_D38SUM_SQL('sa', 10000)} AS sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topn"),
)
def tpch_q10(spark, sf_dir):
    """Returned-item reporting: join tree → agg → top-20 (deterministic tiebreak).

    Revenue is summed per o_custkey straight off lineitem⋈orders, with
    the quarter's orders as the build side; customer and nation are
    looked up after the aggregate (every other group key depends on the
    customer).  Joined first, customer⋈orders would be estimated at a
    product and the returned lineitem rows (200k at sf0.1) broadcast.
    """
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    # r13: exact revenue longs pre-join; per-customer totals within the
    # 3-month filter are bounded (≤ ~1e3 lines × ~1e9 e4-units ≪ long)
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", F.expr(_REV_E4_SQL).alias("rev_e4")
    )
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg((F.sum("rev_e4") / 10000.0).alias("revenue"))
    )
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        per_cust.join(t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("tpch", "join", "case"),
)
def tpch_q12(spark, sf_dir):
    """Shipping-mode priority (adapted: l_returnflag stands in for l_shipmode)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "outerjoin", "aggregation"),
)
def tpch_q13(spark, sf_dir):
    """Customer distribution: left outer join + two-level aggregation.

    Reference: LookupJoinOperators.probeOuter (operator/LookupJoinOperators.java:45-63).
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "5-LOW"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q14",
    oracle=f"""
    SELECT CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {REV_SQL}
                                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM({REV_SQL}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    tags=("tpch", "join", "case"),
)
def tpch_q14(spark, sf_dir):
    """Promotion effect: conditional-aggregation ratio over a part join."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    # r13: exact revenue longs; single global group → two-level pid sums
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        F.expr(_REV_E4_SQL).alias("rev_e4"), F.col("p_type").like("PROMO%").alias("is_promo")
    )
    partials = joined.groupBy(F.spark_partition_id().alias("_pid")).agg(
        F.sum(F.when(F.col("is_promo"), F.col("rev_e4")).otherwise(F.lit(0))).alias("sp"),
        F.sum("rev_e4").alias("sall"),
    )
    # numerator: the oracle computes CAST(100.00 * SUM(..) AS DOUBLE) —
    # one rounding of the exact value 100·S = S_e4/100, so divide the
    # exact integer by 100.0 directly (100.0 * (S_e4/1e4) would round twice)
    return partials.agg(
        F.expr(f"{_D38SUM_SQL('sp', 100)} / {_D38SUM_SQL('sall', 10000)}").alias("promo_revenue")
    )


@query(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no, CAST(SUM({REV_SQL}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    ORDER BY s_suppkey
    """,
    tags=("tpch", "subquery", "cte"),
)
def tpch_q15(spark, sf_dir):
    """Top supplier: CTE + uncorrelated scalar subquery (max-of-agg)."""
    from prestodb_presto_spark.operators.materialize import materialize

    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # r13: exact revenue longs (per-supplier quarter totals ≪ long range)
    # r14 (VERDICT #4): the shared CTE goes through materialize() instead
    # of a bare .cache() — the CacheManager entry of the r13 form outlived
    # the query in a long session (never unpersisted, and plan-matching
    # could silently reuse it across runs); the default localCheckpoint
    # boundary computes-once within the query and its blocks are released
    # with the RDD, leaving no CacheManager residue.
    revenue0 = materialize(
        li.select("l_suppkey", F.expr(_REV_E4_SQL).alias("rev_e4"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg((F.sum("rev_e4") / 10000.0).alias("total_revenue")),
        eager=False,
    )
    max_rev = revenue0.agg(F.max("total_revenue").alias("m"))
    supp = t(spark, sf_dir, "supplier")
    return (
        supp.join(revenue0, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "distinct", "join"),
)
def tpch_q16(spark, sf_dir):
    """Part/supplier relationship: COUNT(DISTINCT) over a join (adapted via lineitem).

    Reference: MarkDistinctOperator (operator/MarkDistinctOperator.java:35).
    """
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
    tags=("tpch", "subquery"),
)
def tpch_q17(spark, sf_dir):
    """Small-quantity-order revenue: correlated scalar subquery → agg+join.

    Catalyst decorrelates to an aggregation on l_partkey joined back
    (reference rule: TransformCorrelatedScalarAggregationToJoin).
    l_quantity is integral so AVG = exact-sum/count is deterministic.
    """
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


@query(
    "tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "having", "topn"),
)
def tpch_q18(spark, sf_dir):
    """Large-volume customer: agg + HAVING + top-100.

    The IN-subquery of stock q18 is folded into the HAVING (same plan
    after Catalyst's decorrelation); threshold adapted to fixture scale.

    Spark-first: the quantity sum is grouped by o_orderkey ALONE before
    any join — the other group keys (c_name, c_custkey, o_orderdate,
    o_totalprice) are functionally dependent on the order, so the
    per-order sum is identical, but the aggregation runs over a single
    bigint key with full map-side combine instead of over the wide
    customer⋈orders⋈lineitem rows.  The HAVING then prunes to the rare
    heavy orders BEFORE the joins.  The planner sizes an aggregate as
    its input, so an inner orders⋈heavy join would build on orders
    (1.4 MB projected against 2.2 MB at sf0.1) and broadcast all 150k
    orders rows.  So orders first semi-joins the heavy set, which is
    the semi join's build; the heavy orders slice it leaves (estimated
    as orders, 2,285 rows at sf0.1) is then the build that the heavy
    set probes.  Customer is the last build.  No static hint.  The
    orders scan now waits for the aggregate, which costs about 0.1 s
    warm at sf0.1; building on orders would broadcast 1.5M rows at sf1.
    A/B at sf0.1 (per-order aggregate first): 1.09s vs 1.61s min-of-7.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # r13: per-order quantity sum in exact cents longs (≤ 7 lines/order —
    # single-level long is safe at any SF); 250 ⇔ 25000 cents exactly
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr(f"sum({_CENTS_SQL('l_quantity')}) AS sq_c"))
        .where("sq_c > 25000")
    )
    heavy = orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
    return (
        big.join(heavy, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .selectExpr(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "to_date(o_orderdate) AS o_orderdate",
            "o_totalprice",
            "sq_c / 100.0D AS sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q19",
    oracle=f"""
    SELECT CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    tags=("tpch", "join", "filter"),
)
def tpch_q19(spark, sf_dir):
    """Discounted revenue: disjunctive predicates across join sides."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(F.sum(_rev()).cast("double").alias("revenue"))


@query(
    "tpch_q22",
    oracle="""
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT c_custkey % 7 AS cntrycode, c_acctbal
      FROM customer
      WHERE c_custkey % 7 IN (1, 2, 3, 4, 5)
        AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                         FROM customer
                         WHERE c_acctbal > 0.00 AND c_custkey % 7 IN (1, 2, 3, 4, 5))
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("tpch", "antijoin", "subquery"),
)
def tpch_q22(spark, sf_dir):
    """Global sales opportunity: scalar subquery + NOT EXISTS → left-anti join.

    (adapted: c_custkey % 7 stands in for the phone country code).
    Reference anti-join path: LookupJoinOperators (operator/LookupJoinOperators.java:45-63)
    + TransformCorrelated* decorrelation rules.
    """
    cust = t(spark, sf_dir, "customer").withColumn("cntrycode", F.col("c_custkey") % 7)
    eligible = cust.filter(F.col("cntrycode").isin(1, 2, 3, 4, 5))
    avg_bal = eligible.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    orders = t(spark, sf_dir, "orders")
    return (
        eligible.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "tpch_q02",
    oracle="""
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
    FROM part p
    JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps ON p_partkey = ps.l_partkey
    JOIN supplier ON s_suppkey = ps.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
      AND s_acctbal = (
        SELECT MIN(s2.s_acctbal)
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("tpch", "subquery", "join"),
)
def tpch_q02(spark, sf_dir):
    """Minimum-cost supplier: correlated scalar MIN subquery.

    Adapted (no partsupp fixture): DISTINCT (l_partkey, l_suppkey) from
    lineitem is the part-supplier bridge; min s_acctbal stands in for min
    ps_supplycost.  Reference decorrelation:
    TransformCorrelatedScalarAggregationToJoin
    (sql/planner/iterative/rule/, PlanOptimizers.java:293-320).  Spark-first
    plan: compute the per-part MIN once with a groupBy and join it back —
    one shuffle of the bridge table; nation/region always broadcast.  The
    per-part MIN aggregate is SF-scaled (one row per part) so no explicit
    broadcast — AQE picks broadcast vs shuffle from runtime size, matching
    the reference's size-based DetermineJoinDistributionType.java:55-69.

    The region only filters supplier, so it is a left-semi join and the
    European supplier slice is the build side of the bridge join (module
    note on build sides); the nation name is looked up at the end.  As
    an inner join it would leave the bridge as the broadcast: 590,973
    distinct pairs at sf0.1, nearly one per lineitem row.
    """
    ps = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    geo = (
        t(spark, sf_dir, "nation")
        .join(
            F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    eu_supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(geo), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )
    bridge = ps.join(eu_supp, ps.l_suppkey == eu_supp.s_suppkey)
    min_bal = bridge.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    parts = t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    return (
        bridge.join(min_bal, "l_partkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(geo), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q11",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_nationkey = 7
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > (
      SELECT 0.0001 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_nationkey = 7)
    ORDER BY value DESC, l_partkey
    """,
    tags=("tpch", "subquery", "aggregation"),
)
def tpch_q11(spark, sf_dir):
    """Important stock: HAVING vs uncorrelated scalar subquery.

    Adapted: shipped value (extendedprice*quantity) over lineitem stands in
    for partsupp stock value.  Spark-first: the filtered join is computed
    once, the global total is a 1-row broadcast joined into the HAVING
    filter — the big input is scanned once per branch but shuffled only on
    l_partkey (same key as the group-by).  nation and supplier only
    filter lineitem, so both are left-semi joins and the nation-7
    supplier slice is the build side (module note on build sides); as
    inner joins they would broadcast raw lineitem (600k rows at sf0.1)
    into both branches.  Supplier is SF-scaled, so it is not
    force-broadcast: its join is sized like the reference's
    DetermineJoinDistributionType.java:55-69.
    """
    nat = t(spark, sf_dir, "nation").filter(F.col("n_nationkey") == 7)
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    # r13: shipped value in exact 1e-4-unit longs (ext_c × qty_c); the
    # per-part group is bounded (single-level long), the global threshold
    # sum is not → two-level pid partials with decimal merge
    li = t(spark, sf_dir, "lineitem")
    base = li.join(supp, li.l_suppkey == F.col("s_suppkey"), "left_semi").select(
        "l_partkey", F.expr(f"{_CENTS_SQL('l_extendedprice')} * {_CENTS_SQL('l_quantity')}").alias("val_e4")
    )
    per_part = base.groupBy("l_partkey").agg((F.sum("val_e4") / 10000.0).alias("value"))
    total = (
        base.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.sum("val_e4").alias("s"))
        .agg(F.expr(f"0.0001D * {_D38SUM_SQL('s', 10000)}").alias("threshold"))
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


@query(
    "tpch_q20",
    oracle="""
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_nationkey IN (3, 8, 13)
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50)
    ORDER BY s_name
    """,
    tags=("tpch", "subquery", "semijoin"),
)
def tpch_q20(spark, sf_dir):
    """Excess-stock suppliers: nested IN subqueries → chained semi joins.

    Reference: TransformCorrelatedInPredicateToJoin + HashSemiJoinOperator
    (operator/HashSemiJoinOperator.java:32).  Spark-first: both IN
    subqueries become semi joins; part and the grouped HAVING set are
    SF-scaled, so broadcast-vs-shuffle is AQE's size-based call at runtime
    (reference parity: DetermineJoinDistributionType.java:55-69).
    """
    parts = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = t(spark, sf_dir, "lineitem")
    # r13: quantity sum in exact cents longs; 50 ⇔ 5000 cents exactly
    heavy_suppliers = (
        li.join(parts.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.expr(f"sum({_CENTS_SQL('l_quantity')})").alias("qty_c"))
        .filter(F.col("qty_c") > 5000)
        .select("l_suppkey")
    )
    nat = t(spark, sf_dir, "nation").filter(
        F.col("n_nationkey").isin(3, 8, 13)
    )
    return (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(
            heavy_suppliers,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@query(
    "tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n_nationkey IN (2, 12, 22)
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("tpch", "subquery", "antijoin"),
)
def tpch_q21(spark, sf_dir):
    """Waiting suppliers: EXISTS + NOT EXISTS over the same fact table.

    Adapted (no commitdate/receiptdate): l_returnflag='R' marks the late
    line.  Reference: TransformExistsApplyToLateralNode +
    LookupJoinOperators probeOuter (operator/LookupJoinOperators.java:45-63).

    Spark-first: both correlated quantifiers fold into ONE algebraic
    per-order aggregate instead of semi/anti self-joins —
      EXISTS(other supplier in the order)    ⟺ min(supp) ≠ max(supp)
      NOT EXISTS(other R-supplier)           ⟺ min(R supp) = max(R supp)
    (the probe row is itself R, so 'the only R supplier' is the probe's).
    lineitem therefore shuffles ONCE as (orderkey, 4 min/max columns)
    with full map-side combine — no hash-build over raw lineitem rows,
    no skew from many-line orders.  The round-7 form ran three lineitem
    shuffles (semi + anti + probe); this is the plan that survives a
    100 TB fact table.

    r13: the verdict aggregate already NAMES the one distinct R
    supplier of a qualifying order (it is min_r itself, since
    min_r = max_r), and counting that supplier's waiting lines is just
    one more conditional COUNT in the same aggregate — so the probe
    side (a SECOND full lineitem scan + semi join back on l_orderkey)
    is computed away entirely.  ONE fact-table scan total; the verdict
    rows (orderkey, suppkey, n_lines) join orders/supplier as before.
    A/B sf0.1 min-of-7: 0.77s vs 0.91s; at 100 TB this removes a full
    fact scan and a fact-sized semi-join probe.
    """
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.expr("min(l_suppkey) AS min_s"),
        F.expr("max(l_suppkey) AS max_s"),
        F.expr("min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS min_r"),
        F.expr("max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS max_r"),
        F.expr("count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_r_lines"),
    )
    # min_r = max_r is NULL (row dropped) for orders with no R line, so
    # the verdict keeps exactly the orders the old semi-join form kept
    verdict = per_order.where("min_s != max_s AND min_r = max_r").selectExpr(
        "l_orderkey", "min_r AS l_suppkey", "n_r_lines"
    )
    nat = t(spark, sf_dir, "nation").where("n_nationkey IN (2, 12, 22)")
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    orders = t(spark, sf_dir, "orders").where("o_orderstatus = 'F'")
    waiting = verdict.join(
        orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    # supplier is SF-scaled: no static broadcast hint.  The nation filter
    # is a semi join, so the planner sizes the 3-nation slice as supplier
    # and builds on it (113 rows at sf0.1); the per-order verdict rows
    # probe.  As an inner join the slice would be estimated at a product,
    # and the verdict rows (16,189) would be broadcast instead.
    return (
        waiting.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.expr("sum(n_r_lines) AS numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
