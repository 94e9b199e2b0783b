"""Scalar-function differential queries: the Presto function registry
(prestodb_presto_spark.functions) applied to real fixture tables, each
hash-checked against a DuckDB oracle.

This puts §2.5 of the operator inventory under the same t2 gate as the
relational operators — unit tests (tests/test_functions.py) check
literals, these check table-scale evaluation + Spark/DuckDB agreement.
Reference inventories: metadata/FunctionRegistry.java:406-625 and the
per-category suites presto-main/src/test/.../operator/scalar/Test*.java.

All expressions are native Column expressions (JVM, whole-stage codegen)
— at 100 TB these are embedded in the scan stage with zero extra
shuffles; the ORDER BY on the key exists only to give the differential
hash a total order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import presto as P
from prestodb_presto_spark.queries import query
from prestodb_presto_spark.queries.util import jarr, t


@query(
    "fn_string_ops",
    oracle="""
    SELECT c_custkey,
           CAST(length(c_name) AS BIGINT) AS name_len,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           CAST(strpos(c_name, '1') AS BIGINT) AS pos_one,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           reverse(c_mktsegment) AS seg_rev,
           split_part(c_name, '_', 2) AS name_num,
           replace(c_mktsegment, 'A', '@') AS seg_rep,
           concat(c_mktsegment, '#', CAST(c_custkey % 10 AS VARCHAR)) AS tagged,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS lev,
           starts_with(c_name, 'Customer') AS is_cust
    FROM customer ORDER BY c_custkey
    """,
    tags=("functions", "string"),
)
def fn_string_ops(spark, sf_dir):
    """String registry fns at table scale (StringFunctions.java:67-810)."""
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            P.length("c_name").alias("name_len"),
            P.upper("c_name").alias("name_upper"),
            P.substr("c_name", 1, 8).alias("name_prefix"),
            P.strpos("c_name", "1").alias("pos_one"),
            P.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
            P.reverse("c_mktsegment").alias("seg_rev"),
            P.split_part("c_name", "_", 2).alias("name_num"),
            P.replace("c_mktsegment", "A", "@").alias("seg_rep"),
            P.concat(F.col("c_mktsegment"), F.lit("#"), (F.col("c_custkey") % 10).cast("string")).alias("tagged"),
            P.levenshtein_distance("c_mktsegment", F.lit("BUILDING")).cast("bigint").alias("lev"),
            P.starts_with("c_name", "Customer").alias("is_cust"),
        )
        .orderBy("c_custkey")
    )


@query(
    "fn_datetime_ops",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS m,
           CAST(day(o_orderdate) AS BIGINT) AS d,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(week(o_orderdate) AS BIGINT) AS wk,
           CAST(isodow(o_orderdate) AS BIGINT) AS dow,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate + INTERVAL 7 DAY AS DATE) AS plus_week,
           CAST(datediff('day', o_orderdate, TIMESTAMP '1999-01-01') AS BIGINT) AS days_to_99,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           CAST(last_day(o_orderdate) AS DATE) AS eom,
           CAST(epoch(o_orderdate) AS DOUBLE) AS unix_ts
    FROM orders ORDER BY o_orderkey
    """,
    tags=("functions", "datetime"),
)
def fn_datetime_ops(spark, sf_dir):
    """Datetime registry incl. the Presto-signature date_add/date_diff and
    MySQL-pattern date_format (DateTimeFunctions.java)."""
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            P.year("o_orderdate").alias("y"),
            P.month("o_orderdate").alias("m"),
            P.day("o_orderdate").alias("d"),
            P.quarter("o_orderdate").alias("q"),
            P.week("o_orderdate").alias("wk"),
            P.day_of_week("o_orderdate").alias("dow"),
            P.day_of_year("o_orderdate").alias("doy"),
            F.to_date(P.date_trunc("month", "o_orderdate")).alias("month_start"),
            F.to_date(P.date_add("day", 7, "o_orderdate")).alias("plus_week"),
            P.date_diff("day", F.col("o_orderdate"), F.lit("1999-01-01").cast("timestamp")).alias("days_to_99"),
            P.date_format("o_orderdate", "%Y-%m-%d").alias("iso_day"),
            P.last_day_of_month("o_orderdate").alias("eom"),
            P.to_unixtime("o_orderdate").alias("unix_ts"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "fn_math_ops",
    oracle="""
    SELECT p_partkey,
           CAST(abs(p_size - 15) AS BIGINT) AS size_dist,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           round(p_retailprice, 1) AS price_round,
           CAST(trunc(p_retailprice) AS DOUBLE) AS price_trunc,
           CAST(sign(p_size - 25) AS BIGINT) AS size_sign,
           CAST(p_size % 7 AS BIGINT) AS size_mod,
           sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
           ln(CAST(p_size AS DOUBLE)) AS size_ln,
           log2(CAST(p_size AS DOUBLE)) AS size_log2,
           power(CAST(p_size AS DOUBLE), 2) AS size_sq,
           greatest(p_size, 25) AS size_hi,
           least(p_size, 25) AS size_lo,
           lower(to_base(p_size, 16)) AS size_hex
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "math"),
)
def fn_math_ops(spark, sf_dir):
    """Math registry fns (MathFunctions.java)."""
    size_d = F.col("p_size").cast("double")
    return (
        t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            P.abs(F.col("p_size") - 15).cast("bigint").alias("size_dist"),
            P.ceil("p_retailprice").alias("price_ceil"),
            P.floor("p_retailprice").alias("price_floor"),
            P.round("p_retailprice", 1).alias("price_round"),
            P.truncate("p_retailprice").alias("price_trunc"),
            P.sign(F.col("p_size") - 25).cast("bigint").alias("size_sign"),
            P.mod(F.col("p_size"), F.lit(7)).cast("bigint").alias("size_mod"),
            P.sqrt(size_d).alias("size_sqrt"),
            P.ln(size_d).alias("size_ln"),
            P.log2(size_d).alias("size_log2"),
            P.pow(size_d, F.lit(2.0)).alias("size_sq"),
            P.greatest(F.col("p_size"), F.lit(25)).alias("size_hi"),
            P.least(F.col("p_size"), F.lit(25)).alias("size_lo"),
            P.to_base(F.col("p_size"), 16).alias("size_hex"),
        )
        .orderBy("p_partkey")
    )


@query(
    "fn_array_ops",
    oracle="""
    SELECT p_partkey,
           coalesce(array_to_string(string_split(p_name, ' '), '|'), '') AS words,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
           coalesce(array_to_string(list_sort(string_split(p_name, ' ')), '|'), '') AS words_sorted,
           array_to_string(string_split(p_name, ' '), '-') AS joined,
           string_split(p_name, ' ')[1] AS first_word,
           list_contains(string_split(p_name, ' '), 'widget') AS has_widget,
           coalesce(array_to_string(list_reverse(string_split(p_name, ' ')), '|'), '') AS words_rev,
           coalesce(array_to_string(generate_series(1, p_size % 4 + 1), '|'), '') AS seq,
           coalesce(array_to_string(
               list_transform(generate_series(1, p_size % 4 + 1), x -> x * x), '|'), '') AS seq_sq,
           coalesce(array_to_string(
               list_filter(generate_series(1, p_size % 4 + 1), x -> x % 2 = 0), '|'), '') AS seq_even,
           CAST(list_reduce(generate_series(1, p_size % 4 + 1), (acc, x) -> acc + x) AS BIGINT) AS seq_sum
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "array", "lambda"),
)
def fn_array_ops(spark, sf_dir):
    """Array + higher-order registry fns (Array*.java, ArrayTransformFunction
    etc.) — all native Catalyst HOFs, zero Python in the loop.  Array
    results are '|'-joined for the driver's scalar-only canonicalizer;
    native-array behavior is pytest-covered (tests/test_functions.py)."""
    words = P.split(F.col("p_name"), " ")
    seq = P.sequence(F.lit(1), F.col("p_size") % 4 + 1)
    return (
        t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            jarr(words).alias("words"),
            P.cardinality(words).alias("n_words"),
            jarr(P.array_sort(words)).alias("words_sorted"),
            P.array_join(words, "-").alias("joined"),
            P.element_at(words, 1).alias("first_word"),
            P.contains(words, F.lit("widget")).alias("has_widget"),
            jarr(P.reverse(words)).alias("words_rev"),
            jarr(seq).alias("seq"),
            jarr(P.transform(seq, lambda x: x * x)).alias("seq_sq"),
            jarr(P.filter(seq, lambda x: x % 2 == 0)).alias("seq_even"),
            P.reduce(seq, F.lit(0), lambda acc, x: acc + x, lambda acc: acc)
            .cast("bigint").alias("seq_sum"),
        )
        .orderBy("p_partkey")
    )


@query(
    "fn_conditional_ops",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal > 5000 THEN 'high' WHEN c_acctbal > 0 THEN 'mid' ELSE 'low' END AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_or_default,
           CAST(TRY_CAST(split_part(c_name, '_', 2) AS BIGINT) AS BIGINT) AS parsed_num,
           CASE WHEN c_acctbal >= 0 THEN c_acctbal ELSE -c_acctbal END AS abs_bal
    FROM customer ORDER BY c_custkey
    """,
    tags=("functions", "conditional"),
)
def fn_conditional_ops(spark, sf_dir):
    """Conditional registry fns: CASE/if/coalesce/nullif/try_cast
    (TryCastFunction.java, grammar SqlBase.g4)."""
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.when(F.col("c_acctbal") > 5000, "high")
            .when(F.col("c_acctbal") > 0, "mid")
            .otherwise("low")
            .alias("tier"),
            P.coalesce(P.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("DEFAULT"))
            .alias("seg_or_default"),
            P.try_cast(P.split_part("c_name", "_", 2), "bigint").alias("parsed_num"),
            P.if_(F.col("c_acctbal") >= 0, F.col("c_acctbal"), -F.col("c_acctbal"))
            .alias("abs_bal"),
        )
        .orderBy("c_custkey")
    )


@query(
    "fn_binary_hash",
    oracle="""
    SELECT c_custkey,
           upper(md5(c_name)) AS name_md5,
           upper(sha256(c_name)) AS name_sha256,
           base64(encode(c_mktsegment)) AS seg_b64,
           upper(to_hex(encode(substr(c_name, 1, 4)))) AS prefix_hex
    FROM customer ORDER BY c_custkey
    """,
    tags=("functions", "binary"),
)
def fn_binary_hash(spark, sf_dir):
    """Binary/hash registry fns (VarbinaryFunctions.java) — md5/sha256
    emitted as hex text so both engines compare the same bytes."""
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            P.to_hex(P.md5(P.to_utf8("c_name"))).alias("name_md5"),
            P.to_hex(P.sha256(P.to_utf8("c_name"))).alias("name_sha256"),
            P.to_base64(P.to_utf8("c_mktsegment")).alias("seg_b64"),
            P.to_hex(P.to_utf8(P.substr("c_name", 1, 4))).alias("prefix_hex"),
        )
        .orderBy("c_custkey")
    )


@query(
    "fn_json_ops",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_scalar,
           CAST(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS BIGINT) AS k_num,
           json_extract_string(props, '$.missing') AS missing_key
    FROM events ORDER BY event_id
    """,
    tags=("functions", "json"),
)
def fn_json_ops(spark, sf_dir):
    """JSON registry fns over the events.props payload column
    (JsonFunctions.java; JsonPath dialect shimmed to get_json_object)."""
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            P.json_extract_scalar("props", "$.k").alias("k_scalar"),
            P.try_cast(P.json_extract_scalar("props", "$.k"), "bigint").alias("k_num"),
            P.json_extract_scalar("props", "$.missing").alias("missing_key"),
        )
        .orderBy("event_id")
    )


@query(
    "fn_regexp_ops",
    oracle="""
    SELECT p_partkey,
           regexp_matches(p_name, '^[a-z]+ (widget|bolt)$') AS is_common,
           regexp_extract(p_name, '^([a-z]+) ([a-z]+)$', 1) AS adjective,
           regexp_extract(p_name, '^([a-z]+) ([a-z]+)$', 2) AS noun,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           coalesce(array_to_string(string_split_regex(p_name, '\\s+'), '|'), '') AS tokens,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
           list_aggregate(list_transform(string_split_regex(p_name, '\\s+'),
               w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), 'string_agg', ' ') AS title_cased
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "regexp", "pandas-tier"),
)
def fn_regexp_ops(spark, sf_dir):
    """Regexp registry fns (JoniRegexpFunctions.java; Spark uses Java
    regex — patterns here are dialect-neutral)."""
    return (
        t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            P.regexp_like("p_name", r"^[a-z]+ (widget|bolt)$").alias("is_common"),
            P.regexp_extract("p_name", r"^([a-z]+) ([a-z]+)$", 1).alias("adjective"),
            P.regexp_extract("p_name", r"^([a-z]+) ([a-z]+)$", 2).alias("noun"),
            P.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
            jarr(P.regexp_split("p_name", r"\s+")).alias("tokens"),
            P.cardinality(P.regexp_extract_all("p_name", "[aeiou]")).alias("n_vowels"),
            # replace-with-function overload (JoniRegexpReplaceLambdaFunction.java):
            # the lambda gets the capture-group list of each match
            P.regexp_replace(
                "p_name", r"(\w)(\w*)", lambda g: (g[0] or "").upper() + (g[1] or "")
            ).alias("title_cased"),
        )
        .orderBy("p_partkey")
    )


@query(
    "fn_geo_ops",
    oracle="""
    SELECT p_partkey,
           sqrt((CAST(p_size AS DOUBLE) - 25.0)*(CAST(p_size AS DOUBLE) - 25.0)
                + (p_retailprice - 1500.0)*(p_retailprice - 1500.0)) AS dist_to_center,
           (p_size BETWEEN 10 AND 40 AND p_retailprice BETWEEN 500 AND 2500) AS in_box,
           'POINT (' || CAST(CAST(p_size AS DOUBLE) AS VARCHAR) || ' ' || CAST(p_retailprice AS VARCHAR) || ')' AS wkt
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "geospatial"),
)
def fn_geo_ops(spark, sf_dir):
    """Geospatial subset at table scale (GeoFunctions.java:92 point/envelope
    rows): point construction, euclidean ST_Distance, envelope
    containment, WKT round-trip — all native expressions."""
    from prestodb_presto_spark.functions import presto as P

    part = t(spark, sf_dir, "part")
    pt = P.st_point(F.col("p_size"), F.col("p_retailprice"))
    center = P.st_point(F.lit(25.0), F.lit(1500.0))
    return (
        part.select(
            "p_partkey",
            P.st_distance(pt, center).alias("dist_to_center"),
            P.st_contains_envelope(F.lit(10.0), F.lit(500.0), F.lit(40.0), F.lit(2500.0), pt).alias("in_box"),
            P.st_as_text(pt).alias("wkt"),
        )
        .orderBy("p_partkey")
    )


@query(
    "fn_geo_polygon_ops",
    oracle="""
    SELECT p_partkey,
           ROUND(CAST(p_size AS DOUBLE) * (p_retailprice / 100) / 2, 6) AS tri_area,
           ROUND(sqrt(CAST(p_size AS DOUBLE) * p_size)
                 + sqrt(CAST(p_size AS DOUBLE) * p_size
                        + (p_retailprice / 100) * (p_retailprice / 100))
                 + sqrt((p_retailprice / 100) * (p_retailprice / 100)), 6) AS tri_perim,
           ROUND(CAST(p_size AS DOUBLE) / 3, 6) AS cx,
           ROUND((p_retailprice / 100) / 3, 6) AS cy,
           (CAST(p_size AS DOUBLE) * (2 * (p_partkey % 4) + 1) / 8) / p_size
             + ((p_retailprice / 100) / 2) / (p_retailprice / 100) < 1 AS pt_inside,
           3 AS n_points,
           CAST(p_size AS DOUBLE) AS xmax,
           true AS closed
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "geospatial", "polygon"),
)
def fn_geo_polygon_ops(spark, sf_dir):
    """Polygon surface at table scale (GeoFunctions.java stArea/stLength/
    stCentroid/stContains/stPointCount/stXMax/stIsClosed): per-row right
    triangles built as WKT, parsed and measured with pure array
    expressions; the oracle derives every quantity in closed form, so a
    parse or shoelace bug cannot cancel out.  Ray-cast containment is
    exercised against points at (2k+1)/8 fractions — never on an edge."""
    from prestodb_presto_spark.functions import presto as P

    part = t(spark, sf_dir, "part")
    s = F.col("p_size").cast("double")
    h = F.col("p_retailprice") / 100
    wkt = F.concat(
        F.lit("POLYGON ((0 0, "), s.cast("string"), F.lit(" 0, 0 "),
        h.cast("string"), F.lit(", 0 0))"),
    )
    geoms = part.select(
        "p_partkey",
        P.st_polygon(wkt).alias("g"),
        P.st_point(s * (2 * (F.col("p_partkey") % 4) + 1) / 8, h / 2).alias("probe"),
    )
    return (
        geoms.select(
            "p_partkey",
            F.round(P.st_area("g"), 6).alias("tri_area"),
            F.round(P.st_length("g"), 6).alias("tri_perim"),
            F.round(P.st_x(P.st_centroid("g")), 6).alias("cx"),
            F.round(P.st_y(P.st_centroid("g")), 6).alias("cy"),
            P.st_contains("g", "probe").alias("pt_inside"),
            P.st_num_points("g").cast("int").alias("n_points"),
            P.st_xmax("g").alias("xmax"),
            P.st_is_closed("g").alias("closed"),
        )
        .orderBy("p_partkey")
    )


@query(
    "join_spatial_contains",
    oracle="""
    SELECT r_regionkey,
           CAST(COUNT(*) FILTER (
               WHERE CAST(p_size AS DOUBLE) + p_retailprice / 100
                     < 10.0 * (r_regionkey + 1) + 1.0/3
                 AND p_size > 0 AND p_retailprice > 0) AS BIGINT) AS n_inside
    FROM region CROSS JOIN part
    GROUP BY r_regionkey ORDER BY r_regionkey
    """,
    tags=("join", "geospatial", "polygon"),
)
def join_spatial_contains(spark, sf_dir):
    """Broadcast spatial join: small polygon set × large point table.

    Reference SpatialJoinOperator.java:38 builds an R-tree over the build
    side; the Spark-first shape broadcasts the (tiny) polygon set and
    evaluates codegen'd ray-cast containment as the join predicate — a
    BroadcastNestedLoopJoin that scales linearly in the point table.
    Triangle legs are offset by 1/3 so no fixture point can sit exactly
    on a hypotenuse (2-decimal prices can never sum to x.3333…)."""
    from prestodb_presto_spark.functions import presto as P

    region = t(spark, sf_dir, "region")
    part = t(spark, sf_dir, "part")
    leg = (F.col("r_regionkey") + 1) * 10.0 + F.lit(1.0) / 3
    wkt = F.concat(
        F.lit("POLYGON ((0 0, "), leg.cast("string"), F.lit(" 0, 0 "),
        leg.cast("string"), F.lit(", 0 0))"),
    )
    tri = F.broadcast(region.select("r_regionkey", P.st_polygon(wkt).alias("g")))
    pts = part.select(
        P.st_point(F.col("p_size").cast("double"), F.col("p_retailprice") / 100).alias("p")
    )
    return (
        tri.crossJoin(pts)
        .groupBy("r_regionkey")
        .agg(F.count_if(P.st_contains(F.col("g"), F.col("p"))).alias("n_inside"))
        .orderBy("r_regionkey")
    )


@query(
    "fn_geo_bing_tiles",
    oracle="""
    WITH pt AS (SELECT p_partkey,
                       (CAST(p_size AS DOUBLE) - 25) * 3 AS lat,
                       CAST(p_partkey % 360 AS DOUBLE) - 180 AS lon,
                       (CAST(p_size AS DOUBLE) - 25) * 2 AS rlat0,
                       (CAST(p_size AS DOUBLE) - 25) * 2 + 3 AS rlat1,
                       CAST(p_partkey % 300 AS DOUBLE) - 150 AS rlon0,
                       CAST(p_partkey % 300 AS DOUBLE) - 150 + 2.7 AS rlon1
                FROM part),
         xy AS (SELECT p_partkey, lat, lon,
                       CAST(GREATEST(0, LEAST(FLOOR((lon + 180) / 360 * 256), 255)) AS INT) AS tx,
                       CAST(GREATEST(0, LEAST(FLOOR(
                           (0.5 - ln((1 + sin(radians(lat))) / (1 - sin(radians(lat)))) / (4 * pi()))
                           * 256), 255)) AS INT) AS ty,
                       CAST(GREATEST(0, LEAST(FLOOR((rlon0 + 180) / 360 * 64), 63)) AS INT) AS cx0,
                       CAST(GREATEST(0, LEAST(FLOOR((rlon1 + 180) / 360 * 64), 63)) AS INT) AS cx1,
                       CAST(GREATEST(0, LEAST(FLOOR(
                           (0.5 - ln((1 + sin(radians(rlat1))) / (1 - sin(radians(rlat1)))) / (4 * pi()))
                           * 64), 63)) AS INT) AS cy0,
                       CAST(GREATEST(0, LEAST(FLOOR(
                           (0.5 - ln((1 + sin(radians(rlat0))) / (1 - sin(radians(rlat0)))) / (4 * pi()))
                           * 64), 63)) AS INT) AS cy1
                FROM pt)
    SELECT p_partkey, tx, ty,
           array_to_string(list_transform(generate_series(7, 0, -1),
               i -> CAST((tx // CAST(pow(2, i) AS INT)) % 2
                         + 2 * ((ty // CAST(pow(2, i) AS INT)) % 2) AS VARCHAR)), '') AS quadkey,
           (cx1 - cx0 + 1) * (cy1 - cy0 + 1) AS n_cover,
           cx0 AS cover_x0, cy0 AS cover_y0
    FROM xy ORDER BY p_partkey
    """,
    tags=("functions", "geospatial", "bing"),
)
def fn_geo_bing_tiles(spark, sf_dir):
    """Bing tile math at table scale (BingTileFunctions.java): tile-at,
    coordinates, quadkey — the oracle re-derives Web-Mercator x/y and
    the base-4 quadkey in closed-form SQL.  Latitudes stay within ±75°
    so the clamp path and the Gudermannian agree bit-for-bit."""
    from prestodb_presto_spark.functions import presto as P

    part = t(spark, sf_dir, "part")
    lat = (F.col("p_size").cast("double") - 25) * 3
    lon = (F.col("p_partkey") % 360).cast("double") - 180
    tile = P.bing_tile_at(lat, lon, F.lit(8))
    # a ~3°×2.7° rectangle per row for geometry_to_bing_tiles
    # (BingTileFunctions.java:204): lat stays within ±53° so no clamping
    rlat0 = (F.col("p_size").cast("double") - 25) * 2
    rlon0 = (F.col("p_partkey") % 300).cast("double") - 150
    num = lambda v: v.cast("string")  # noqa: E731
    rect_wkt = F.concat(
        F.lit("POLYGON (("),
        num(rlon0), F.lit(" "), num(rlat0), F.lit(", "),
        num(rlon0 + 2.7), F.lit(" "), num(rlat0), F.lit(", "),
        num(rlon0 + 2.7), F.lit(" "), num(rlat0 + 3), F.lit(", "),
        num(rlon0), F.lit(" "), num(rlat0 + 3), F.lit(", "),
        num(rlon0), F.lit(" "), num(rlat0),
        F.lit("))"),
    )
    cover = P.geometry_to_bing_tiles(P.st_geom_from_text(rect_wkt), F.lit(6))
    first = F.element_at(cover, 1)
    return (
        part.select(
            "p_partkey",
            tile.getField("x").alias("tx"),
            tile.getField("y").alias("ty"),
            P.bing_tile_quadkey(tile).alias("quadkey"),
            F.size(cover).alias("n_cover"),
            first.getField("x").alias("cover_x0"),
            first.getField("y").alias("cover_y0"),
        )
        .orderBy("p_partkey")
    )


@query(
    "fn_geo_set_ops",
    oracle="""
    SELECT p_partkey,
           ROUND(CAST(p_size AS DOUBLE) * (p_retailprice / 100) / 4, 6) AS inter_area,
           ROUND(CAST(p_size AS DOUBLE) * (p_retailprice / 100) * 3, 6) AS union_area,
           ROUND(CAST(p_size AS DOUBLE) * (p_retailprice / 100) * 3 / 4, 6) AS diff_area,
           ROUND(CAST(p_size AS DOUBLE) * (p_retailprice / 100) * 11 / 4, 6) AS sym_area,
           ROUND(CAST(p_size AS DOUBLE) * (p_retailprice / 100) * 3 / 4, 6) AS hole_area,
           1 AS n_holes,
           true AS ab_overlaps,
           false AS ab_touches,
           true AS ac_touches,
           true AS l_crosses
    FROM part WHERE p_partkey <= 500 ORDER BY p_partkey
    """,
    tags=("functions", "geospatial", "setops", "pandas-tier"),
)
def fn_geo_set_ops(spark, sf_dir):
    """Geometry boolean ops + topological predicates at table scale
    (GeoFunctions.java stUnion:521 / stIntersection:807 /
    stDifference:771 / stSymmetricDifference:842, stCrosses:869 /
    stOverlaps:926 / stTouches:953).  Per-row axis-aligned rectangles
    derived from part columns: A = (0,0)-(s,h), B = (s/2,h/2)-(2s,2h)
    — overlap is exactly s·h/4, and area(B) = 9sh/4 ≠ area(A) so
    A∖B (3sh/4) and B∖A (2sh) are DISTINGUISHABLE: an operand-order
    bug in the clipping tier cannot hide (the randomized
    inclusion–exclusion property in tests/test_geo_properties.py
    caught exactly that in the equal-area version).  C shares A's edge x=s, and
    H = (s/4,h/4)-(3s/4,3h/4) sits strictly inside A so A−H is a polygon
    with a hole.  Divisors stay ≤4 so every oracle value is exact at 6
    decimals (sh has 4 decimals) — deeper fractions land on the x.5
    rounding boundary where the two engines' float paths disagree.  Every area is closed-form in the oracle, so a clip or
    parity bug cannot cancel out.  The Greiner–Hormann clip runs in the
    pandas-UDF tier (geo_setops.py) and is materialized in one
    projection before measurement (Python UDFs cannot nest inside
    higher-order-function lambdas)."""
    from prestodb_presto_spark.functions import presto as P

    # 500 rows exercise every shape class; the driver's per-query budget
    # matters more than volume for a function-surface gate
    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    s = F.col("p_size").cast("double")
    h = F.col("p_retailprice") / 100

    def rect(x0, y0, x1, y1):
        num = lambda v: v.cast("string")  # noqa: E731
        return P.st_geom_from_text(
            F.concat(
                F.lit("POLYGON (("),
                num(x0), F.lit(" "), num(y0), F.lit(", "),
                num(x1), F.lit(" "), num(y0), F.lit(", "),
                num(x1), F.lit(" "), num(y1), F.lit(", "),
                num(x0), F.lit(" "), num(y1), F.lit(", "),
                num(x0), F.lit(" "), num(y0),
                F.lit("))"),
            )
        )

    zero = F.lit(0.0)
    # materialize the parsed geometries ONCE: predicates like ST_Touches
    # reference their operands O(segments²) times, and inlining the WKT
    # parse tree at every reference blows the codegen task binary to
    # ~10 MiB (measured: 7.8 s/predicate inlined → sub-second on columns)
    geoms = part.select(
        "p_partkey",
        rect(zero, zero, s, h).alias("a"),
        rect(s / 2, h / 2, s * 2, h * 2).alias("b"),
        rect(s, zero, s * 2, h).alias("cc"),
        rect(s / 4, h / 4, s * 0.75, h * 0.75).alias("hole"),
        P.st_line_from_text(
            F.concat(
                F.lit("LINESTRING (-1 "), (h / 2).cast("string"),
                F.lit(", "), (s + 1).cast("string"), F.lit(" "), (h / 2).cast("string"),
                F.lit(")"),
            )
        ).alias("line"),
    )
    # predicates/areas are computed ABOVE the pandas-UDF stage: Catalyst's
    # CollapseProject cannot cross the ArrowEvalPython node, so the parsed
    # geometry columns are evaluated exactly once below it (inlining them
    # into each O(segs²) predicate was measured at ~7 s/predicate)
    mat = geoms.select(
        "p_partkey",
        "a", "b", "cc", "line",
        P.st_intersection("a", "b").alias("i"),
        P.st_union("a", "b").alias("u"),
        P.st_difference("a", "b").alias("d"),
        P.st_sym_difference("a", "b").alias("sy"),
        P.st_difference("a", "hole").alias("holed"),
    )
    return mat.select(
        "p_partkey",
        F.round(P.st_area("i"), 6).alias("inter_area"),
        F.round(P.st_area("u"), 6).alias("union_area"),
        F.round(P.st_area("d"), 6).alias("diff_area"),
        F.round(P.st_area("sy"), 6).alias("sym_area"),
        F.round(P.st_area("holed"), 6).alias("hole_area"),
        P.st_num_interior_ring("holed").cast("int").alias("n_holes"),
        P.st_overlaps("a", "b").alias("ab_overlaps"),
        P.st_touches("a", "b").alias("ab_touches"),
        P.st_touches("a", "cc").alias("ac_touches"),
        P.st_crosses("line", "a").alias("l_crosses"),
    ).orderBy("p_partkey")


@query(
    "fn_color_ops",
    oracle="""
    WITH src AS (
        SELECT n_name AS name, (n_nationkey % 8)::BIGINT AS idx,
               (n_nationkey % 101) / 100.0 AS pct
        FROM nation WHERE n_nationkey < 8
    )
    SELECT name,
           -(idx + 1) AS code,
           chr(27) || '[38;5;' || CAST(idx AS VARCHAR) || 'm' || name
               || chr(27) || '[0m' AS rendered,
           CAST(65536 * (255 - (idx * 30)) AS BIGINT) AS rgb_code
    FROM src ORDER BY name
    """,
    tags=("functions", "color", "pandas-tier"),
)
def fn_color_ops(spark, sf_dir):
    """Color/ANSI scalar family (ColorFunctions.java — the round-12
    close of the last §2.5 skip): color(name) system encoding,
    render(value, color) ANSI wrapping, rgb(r,g,b).  The oracle
    re-derives the exact escape strings with chr(27) arithmetic; the
    interpolating bar()/color(fraction) forms are pinned bit-exact
    against TestColorFunctions goldens in tests/test_color_functions.py
    (their java.awt float32 HSB math has no SQL spelling)."""
    from prestodb_presto_spark import functions as freg

    P = freg.presto
    nat = t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 8)
    names = ["black", "red", "green", "yellow", "blue", "magenta", "cyan", "white"]
    sysname = F.element_at(
        F.array(*[F.lit(n) for n in names]), (F.col("n_nationkey") % 8 + 1).cast("int")
    )
    src = nat.select(
        F.col("n_name").alias("name"),
        (F.col("n_nationkey") % 8).alias("idx"),
        sysname.alias("cname"),
    )
    return src.select(
        "name",
        P.color("cname").alias("code"),
        P.render(F.col("name"), P.color("cname")).alias("rendered"),
        P.rgb(
            (F.lit(255) - F.col("idx") * 30).cast("bigint"),
            F.lit(0).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("rgb_code"),
    ).orderBy("name")
