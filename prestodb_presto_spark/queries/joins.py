"""Join operator catalog — every join strategy from SURVEY.md §2.1.

Reference operators:
  LookupJoinOperator + HashBuilderOperator (operator/LookupJoinOperator.java:53,
  HashBuilderOperator.java:51) with probe variants inner/probeOuter/lookupOuter/
  fullOuter (operator/LookupJoinOperators.java:45-63);
  NestedLoopJoinOperator (operator/NestedLoopJoinOperator.java:36) for cross /
  theta joins; HashSemiJoinOperator (operator/HashSemiJoinOperator.java:32).

Spark-first: the DataFrame `how=` parameter drives Catalyst's join
selection (broadcast-hash / shuffled-hash / sort-merge / broadcast-NL),
with AQE switching strategy at runtime from observed sizes.  At 100 TB
the orders⨯lineitem joins shuffle on the order key; dims broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.queries import query
from prestodb_presto_spark.queries.util import dsum, t


@query(
    "join_inner",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("join",),
)
def join_inner(spark, sf_dir):
    """Inner equi-join (shuffle-on-key at scale; AQE may broadcast customer)."""
    return (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total"))
        .orderBy("c_mktsegment")
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT has_order, COUNT(*) AS n_customers
    FROM (
      SELECT c_custkey, MAX(o_orderkey) IS NOT NULL AS has_order
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) x GROUP BY has_order ORDER BY has_order
    """,
    tags=("join", "outerjoin"),
)
def join_left_outer(spark, sf_dir):
    """LEFT OUTER join preserving unmatched build-side rows as NULLs."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.max("o_orderkey").isNotNull().alias("has_order"))
        .groupBy("has_order")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("has_order")
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(c_custkey) AS n_matched
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join", "outerjoin"),
)
def join_right_outer(spark, sf_dir):
    """RIGHT OUTER join (reference probe variant lookupOuter)."""
    return (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"), "right")
        .agg(F.count("*").alias("n_rows"), F.count("c_custkey").alias("n_matched"))
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT side, COUNT(*) AS n FROM (
      SELECT CASE WHEN c_custkey IS NULL THEN 'event_only'
                  WHEN u IS NULL THEN 'customer_only'
                  ELSE 'both' END AS side
      FROM customer
      FULL OUTER JOIN (SELECT DISTINCT user_id AS u FROM events) e
        ON c_custkey = u
    ) x GROUP BY side ORDER BY side
    """,
    tags=("join", "outerjoin"),
)
def join_full_outer(spark, sf_dir):
    """FULL OUTER join with dangling rows on both sides."""
    cust = t(spark, sf_dir, "customer")
    ev = t(spark, sf_dir, "events").select(F.col("user_id").alias("u")).distinct()
    joined = cust.join(ev, F.col("c_custkey") == F.col("u"), "full")
    side = (
        F.when(F.col("c_custkey").isNull(), "event_only")
        .when(F.col("u").isNull(), "customer_only")
        .otherwise("both")
    )
    return (
        joined.select(side.alias("side"))
        .groupBy("side")
        .agg(F.count("*").alias("n"))
        .orderBy("side")
    )


@query(
    "join_semi",
    oracle="""
    SELECT COUNT(*) AS n_customers_with_urgent
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    tags=("join", "semijoin"),
)
def join_semi(spark, sf_dir):
    """LEFT SEMI join (IN-subquery plan; reference HashSemiJoinOperator)."""
    urgent = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t(spark, sf_dir, "customer")
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .agg(F.count("*").alias("n_customers_with_urgent"))
    )


@query(
    "join_anti",
    oracle="""
    SELECT COUNT(*) AS n_parts_never_ordered
    FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    """,
    tags=("join", "antijoin"),
)
def join_anti(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS plan).

    Spark builds an anti join on its right side, so the right side is
    lineitem's distinct part keys (an aggregate, at most one row per
    part) rather than raw lineitem rows."""
    ordered = t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    return (
        t(spark, sf_dir, "part")
        .join(ordered, F.col("p_partkey") == F.col("l_partkey"), "left_anti")
        .agg(F.count("*").alias("n_parts_never_ordered"))
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, COUNT(*) AS n_pairs
    FROM region CROSS JOIN nation
    GROUP BY r_name ORDER BY r_name
    """,
    tags=("join", "crossjoin"),
)
def join_cross(spark, sf_dir):
    """CROSS join (reference NestedLoopJoinOperator); both sides tiny → broadcast NL."""
    return (
        t(spark, sf_dir, "region")
        .crossJoin(F.broadcast(t(spark, sf_dir, "nation")))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("r_name")
    )


@query(
    "join_theta",
    oracle="""
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(CAST(s2.s_acctbal - s1.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS gap_sum
    FROM supplier s1 JOIN supplier s2
      ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal < s2.s_acctbal
    """,
    tags=("join", "thetajoin"),
)
def join_theta(spark, sf_dir):
    """Theta join: equi part (nationkey) hashes, inequality evaluated as a
    join residual — the same split Presto's JoinFilterFunctionCompiler does
    (sql/gen/JoinFilterFunctionCompiler.java)."""
    s1 = t(spark, sf_dir, "supplier").alias("s1")
    s2 = t(spark, sf_dir, "supplier").alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.s_nationkey") == F.col("s2.s_nationkey"))
            & (F.col("s1.s_acctbal") < F.col("s2.s_acctbal")),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("s2.s_acctbal") - F.col("s1.s_acctbal")).cast("decimal(18,2)"))
            .cast("double")
            .alias("gap_sum"),
        )
    )


@query(
    "join_inequality_range",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("join", "thetajoin"),
)
def join_inequality_range(spark, sf_dir):
    """Equi + temporal-range residual (reference JMH BenchmarkInequalityJoin)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAY")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )


@query(
    "join_broadcast_explicit",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    tags=("join", "broadcast"),
)
def join_broadcast_explicit(spark, sf_dir):
    """Explicit broadcast hint — replaces Presto's REPLICATED distribution
    (iterative/rule/DetermineJoinDistributionType.java:55-69)."""
    return (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
        .orderBy("r_name")
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark, sf_dir):
    """Skew-resistant join via explicit salting (operators/skew.py).

    Semantically identical to the plain equi-join (the oracle IS the
    plain join) — the salt spreads any hot l_orderkey across 8 subkeys
    so no single shuffle partition owns a hot key's entire row set.
    Presto 0.206 has no skew handling at all; Spark-first we get AQE
    skew-splitting for free and this explicit form for structural skew.
    """
    from prestodb_presto_spark.operators import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, "l_orderkey", salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_not_in_null_semantics",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS without_nulls,
      (SELECT COUNT(*) FROM customer
       WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders)) AS with_nulls
    """,
    tags=("join", "subquery", "nulls"),
)
def join_not_in_null_semantics(spark, sf_dir):
    """NOT IN three-valued logic: one NULL in the subquery empties the
    result (x NOT IN (..., NULL) is never TRUE).

    The classic SQL trap, exercised repeatedly in the reference's
    AbstractTestQueries semi-join sections.  Spark plans the NULL-laden
    branch as a null-aware anti join; both branches run via spark.sql so
    Catalyst's subquery rewrite (RewritePredicateSubquery) is what's
    under test — not a hand-built reimplementation.
    """
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS without_nulls,
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders)) AS with_nulls
        """
    )


@query(
    "join_outer_on_vs_where",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM customer LEFT JOIN orders
         ON c_custkey = o_custkey AND o_totalprice > 100000) AS filter_in_on,
      (SELECT COUNT(*) FROM customer LEFT JOIN orders
         ON c_custkey = o_custkey WHERE o_totalprice > 100000) AS filter_in_where,
      (SELECT COUNT(*) FROM customer LEFT JOIN orders
         ON c_custkey = o_custkey AND o_totalprice > 100000
       WHERE o_orderkey IS NULL) AS unmatched_after_on
    """,
    tags=("join", "outer"),
)
def join_outer_on_vs_where(spark, sf_dir):
    """LEFT JOIN filter placement semantics: a predicate in ON restricts
    the join's right side (preserving unmatched left rows); the same
    predicate in WHERE filters after the join (dropping the NULL-extended
    rows, effectively an inner join).

    AbstractTestQueries covers this distinction extensively; it is the
    most common outer-join correctness bug in hand-written engines.
    """
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_totalprice > 100000) AS filter_in_on,
          (SELECT COUNT(*) FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey WHERE o_totalprice > 100000) AS filter_in_where,
          (SELECT COUNT(*) FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_totalprice > 100000
           WHERE o_orderkey IS NULL) AS unmatched_after_on
        """
    )


@query(
    "join_asof",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    WHERE e.user_id < 200
    ORDER BY e.event_id
    """,
    tags=("join", "asof", "custom-operator"),
)
def join_asof(spark, sf_dir):
    """As-of join: latest order at-or-before each event, per user.

    No Spark builtin and no reference counterpart by name (closest shape:
    inequality join, BenchmarkInequalityJoin.java) — implemented as the
    union-merge operator in operators/asof.py: ONE shuffle on the key,
    cost independent of history depth per key, vs the quadratic
    inequality-join formulation.  DuckDB's native ASOF JOIN is the
    oracle.  Right side deduped per (key, ts): tie choice is otherwise
    engine-defined.
    """
    from prestodb_presto_spark.operators.asof import asof_join

    events = t(spark, sf_dir, "events").filter(F.col("user_id") < 200).select(
        "event_id", "user_id", "ts"
    )
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    return (
        asof_join(events, orders, "user_id", "ts", "o_orderdate", ["o_orderkey"])
        .select("event_id", "user_id", F.col("o_orderkey").alias("last_orderkey"))
        .orderBy("event_id")
    )


@query(
    "join_spatial_grid",
    oracle="""
    SELECT r_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_inside
    FROM region CROSS JOIN part
    WHERE CAST(p_size AS DOUBLE) + p_retailprice / 100
          < 10.0 * (r_regionkey + 1) + 1.0/3
      AND p_size > 0 AND p_retailprice > 0
    GROUP BY r_regionkey ORDER BY r_regionkey
    """,
    tags=("join", "geospatial", "polygon", "scale"),
)
def join_spatial_grid(spark, sf_dir):
    """Partitioned (grid-bucketed) spatial join — the 100 TB path when
    polygons don't fit a broadcast (operators/spatial.py; reference
    PartitionedSpatialJoin / ExtractSpatialJoins.java).  Same triangles
    and points as join_spatial_contains, but joined via integer cell
    keys: polygons explode onto covering cells, each point lands in one
    cell, Catalyst shuffles both sides on the cell key like any
    equi-join.  The oracle is the identical closed-form count, so the
    grid path must agree with the broadcast path bit-for-bit."""
    from prestodb_presto_spark.functions import presto as P
    from prestodb_presto_spark.operators.spatial import grid_spatial_join

    region = t(spark, sf_dir, "region")
    part = t(spark, sf_dir, "part")
    leg = (F.col("r_regionkey") + 1) * 10.0 + F.lit(1.0) / 3
    wkt = F.concat(
        F.lit("POLYGON ((0 0, "), leg.cast("string"), F.lit(" 0, 0 "),
        leg.cast("string"), F.lit(", 0 0))"),
    )
    tri = region.select("r_regionkey", P.st_polygon(wkt).alias("g"))
    pts = part.select(
        P.st_point(F.col("p_size").cast("double"), F.col("p_retailprice") / 100).alias("p")
    )
    joined = grid_spatial_join(tri, pts, "g", "p", cell_size=16.0)
    return (
        joined.groupBy("r_regionkey")
        .agg(F.count("*").alias("n_inside"))
        .orderBy("r_regionkey")
    )
