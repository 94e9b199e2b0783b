"""presto-ml and presto-geospatial parity modules.

Reference: MLFunctions.java:41-71 (learn_classifier/classify/
learn_regressor/regress) and GeoFunctions.java:92 (ST_* subset).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import presto as P

# r14 (VERDICT #6): golden/fuzz suite — excluded from the default
# driver-window run; see pytest.ini (geometry golden suite incl. DE-9IM matrices (~2 min)).
pytestmark = pytest.mark.slow


def test_learn_classify(spark):
    """Separable labels must classify back at ~100% accuracy."""
    df = (
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .withColumn("label", F.when(F.col("c_acctbal") > 0, "pos").otherwise("neg"))
        .withColumn("feats", P.features("c_acctbal"))
    )
    model = df.agg(P.learn_classifier("label", "feats").alias("model"))
    scored = df.crossJoin(model).withColumn("predicted", P.classify("feats", "model"))
    acc = scored.agg(
        F.avg((F.col("predicted") == F.col("label")).cast("double")).alias("acc")
    ).collect()[0].acc
    assert acc > 0.99


def test_learn_regress(spark):
    """y = 3x + 1 must be recovered by the regressor."""
    df = spark.range(200).select(
        (F.col("id").cast("double")).alias("x"),
        (F.col("id") * 3.0 + 1.0).alias("y"),
    ).withColumn("feats", P.features("x"))
    model = df.agg(P.learn_regressor("y", "feats").alias("model"))
    pred = df.crossJoin(model).withColumn("yhat", P.regress("feats", "model"))
    err = pred.agg(F.max(F.abs(F.col("yhat") - F.col("y"))).alias("e")).collect()[0].e
    assert err < 1e-6


def test_geo_functions(spark):
    row = (
        spark.range(1)
        .select(
            P.st_x(P.st_point(F.lit(3.0), F.lit(4.0))).alias("x"),
            P.st_distance(
                P.st_point(F.lit(0.0), F.lit(0.0)), P.st_point(F.lit(3.0), F.lit(4.0))
            ).alias("dist"),
            P.st_x(P.st_geometry_from_text(F.lit("POINT (2.5 -7.25)"))).alias("wx"),
            P.st_y(P.st_geometry_from_text(F.lit("POINT (2.5 -7.25)"))).alias("wy"),
            P.st_as_text(P.st_point(F.lit(1.0), F.lit(2.0))).alias("wkt"),
            P.st_contains_envelope(
                F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0),
                P.st_point(F.lit(5.0), F.lit(5.0)),
            ).alias("inside"),
            P.st_contains_envelope(
                F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0),
                P.st_point(F.lit(15.0), F.lit(5.0)),
            ).alias("outside"),
            P.great_circle_distance(
                F.lit(36.12), F.lit(-86.67), F.lit(33.94), F.lit(-118.40)
            ).alias("gc_km"),
        )
        .collect()[0]
    )
    assert row.x == 3.0
    assert row.dist == pytest.approx(5.0)
    assert (row.wx, row.wy) == (2.5, -7.25)
    assert row.wkt == "POINT (1.0 2.0)"
    assert row.inside is True and row.outside is False
    assert row.gc_km == pytest.approx(2886.45, rel=1e-3)  # BNA->LAX, classic haversine check


def test_geo_spatial_join_shape(spark):
    """Point-in-envelope join: envelopes broadcast, predicate filters —
    the Spark-first replacement for SpatialJoinOperator's R-tree."""
    pts = spark.range(100).select(
        P.st_point((F.col("id") % 10).cast("double"), (F.col("id") / 10).cast("double")).alias("p")
    )
    boxes = spark.createDataFrame(
        [(0.0, 0.0, 4.0, 4.0, "sw"), (5.0, 5.0, 9.0, 9.0, "ne")],
        "xmin double, ymin double, xmax double, ymax double, name string",
    )
    joined = pts.join(
        F.broadcast(boxes),
        P.st_contains_envelope(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), F.col("p")
        ),
    )
    counts = {r.name: r.cnt for r in joined.groupBy("name").agg(F.count("*").alias("cnt")).collect()}
    # sw: x=id%10<=4 & y=id/10<=4 -> ids 0-4,10-14,20-24,30-34,40 = 21
    # ne: x,y in [5,9] -> ids 55-59,65-69,75-79,85-89 = 20 (y>9 for 95+)
    assert counts["sw"] == 21 and counts["ne"] == 20


def test_geo_polygon_functions(spark):
    """Polygon/linestring surface: WKT parse, area/length/centroid,
    point-in-polygon, envelope, vertex access."""
    sq = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"  # 4x4 square
    tri = "POLYGON ((0 0, 6 0, 0 6, 0 0))"       # right triangle, area 18
    ln = "LINESTRING (0 0, 3 4, 3 10)"           # len 5 + 6 = 11
    df = spark.createDataFrame([(sq, tri, ln)], "sq string, tri string, ln string")
    row = df.select(
        P.st_area(P.st_polygon("sq")).alias("sq_area"),
        P.st_area(P.st_polygon("tri")).alias("tri_area"),
        P.st_length(P.st_polygon("sq")).alias("sq_perim"),
        P.st_length(P.st_line_from_text("ln")).alias("ln_len"),
        P.st_geometry_type(P.st_polygon("sq")).alias("gt"),
        P.st_num_points(P.st_polygon("sq")).alias("np"),
        P.st_is_closed(P.st_polygon("sq")).alias("closed"),
        P.st_is_ring(P.st_line_from_text("ln")).alias("ln_ring"),
        P.st_x(P.st_centroid(P.st_polygon("sq"))).alias("cx"),
        P.st_y(P.st_centroid(P.st_polygon("sq"))).alias("cy"),
        P.st_x(P.st_centroid(P.st_line_from_text("ln"))).alias("lcx"),
        P.st_contains(P.st_polygon("sq"), P.st_point(2.0, 2.0)).alias("inside"),
        P.st_contains(P.st_polygon("sq"), P.st_point(5.0, 2.0)).alias("outside"),
        P.st_within(P.st_point(1.0, 5.0), P.st_polygon("tri")).alias("tri_in"),
        P.st_xmin(P.st_polygon("tri")).alias("xmin"),
        P.st_xmax(P.st_polygon("tri")).alias("xmax"),
        P.st_ymax(P.st_line_from_text("ln")).alias("lymax"),
        P.st_dimension(P.st_polygon("sq")).alias("dim2"),
        P.st_dimension(P.st_line_from_text("ln")).alias("dim1"),
        P.st_x(P.st_point_n(P.st_line_from_text("ln"), 2)).alias("p2x"),
        P.st_x(P.st_start_point(P.st_line_from_text("ln"))).alias("spx"),
        P.st_y(P.st_end_point(P.st_line_from_text("ln"))).alias("epy"),
        P.st_area(P.st_envelope(P.st_line_from_text("ln"))).alias("env_area"),
        P.st_as_text_geom(P.st_polygon("tri")).alias("wkt_rt"),
        P.st_is_empty(P.st_polygon("sq")).alias("empty"),
        P.st_geometry_type(P.st_geom_from_text("ln")).alias("gt_ln"),
    ).collect()[0]
    assert row.sq_area == 16.0 and row.tri_area == 18.0
    assert row.sq_perim == 16.0 and row.ln_len == 11.0
    assert row.gt == "ST_Polygon" and row.gt_ln == "ST_LineString"
    assert row.np == 4 and row.closed and not row.ln_ring
    assert (row.cx, row.cy) == (2.0, 2.0)
    # linestring centroid: length-weighted midpoints: (1.5*5 + 3*6)/11
    assert abs(row.lcx - (1.5 * 5 + 3 * 6) / 11) < 1e-12
    assert row.inside and not row.outside
    assert not row.tri_in  # (1,5) above hypotenuse x+y=6
    assert (row.xmin, row.xmax) == (0.0, 6.0) and row.lymax == 10.0
    assert (row.dim2, row.dim1) == (2, 1)
    assert (row.p2x, row.spx, row.epy) == (3.0, 0.0, 10.0)
    assert row.env_area == 3 * 10.0
    assert row.wkt_rt == "POLYGON ((0.0 0.0, 6.0 0.0, 0.0 6.0, 0.0 0.0))"
    assert not row.empty


def test_geo_intersects(spark):
    df = spark.createDataFrame([(1,)], "i int")
    sq = P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    far = P.st_polygon(F.lit("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"))
    overlap = P.st_polygon(F.lit("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"))
    contained = P.st_polygon(F.lit("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"))
    crossing = P.st_line_from_text(F.lit("LINESTRING (-1 2, 5 2)"))
    row = df.select(
        P.st_intersects(sq, far).alias("far"),
        P.st_intersects(sq, overlap).alias("overlap"),
        P.st_intersects(sq, contained).alias("contained"),
        P.st_intersects(sq, crossing).alias("crossing"),
        P.st_intersects(P.st_geom_from_text(F.lit("POINT (1 1)")), sq).alias("pt_in"),
        P.st_intersects(P.st_geom_from_text(F.lit("POINT (9 9)")), sq).alias("pt_out"),
    ).collect()[0]
    assert not row.far
    assert row.overlap and row.contained and row.crossing
    assert row.pt_in and not row.pt_out


def test_geo_polygon_with_hole(spark):
    """9×9 square with a 3×3 hole: area subtracts the hole, perimeter
    includes it, ray-cast parity excludes hole points, and the interior
    ring accessors see the hole (GeoFunctions.java:529 ring model)."""
    df = spark.createDataFrame(
        [("POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (3 3, 6 3, 6 6, 3 6, 3 3))",)], "w string"
    )
    g = P.st_polygon("w")
    row = df.select(
        P.st_area(g).alias("area"),
        P.st_length(g).alias("perim"),
        P.st_num_points(g).alias("np"),
        P.st_num_interior_ring(g).alias("nir"),
        P.st_contains(g, P.st_point(F.lit(1.0), F.lit(1.0))).alias("in_annulus"),
        P.st_contains(g, P.st_point(F.lit(4.5), F.lit(4.5))).alias("in_hole"),
        P.st_length(P.st_interior_ring_n(g, 1)).alias("hole_perim"),
        P.st_x(P.st_centroid(g)).alias("cx"),
    ).collect()[0]
    assert row.area == 81.0 - 9.0
    assert row.perim == 36.0 + 12.0
    assert row.np == 8
    assert row.nir == 1
    assert row.in_annulus and not row.in_hole
    assert row.hole_perim == 12.0
    assert row.cx == pytest.approx(4.5)  # symmetric hole keeps the centroid


def test_geo_multipolygon(spark):
    """MULTIPOLYGON of two disjoint unit squares: summed area/perimeter,
    per-part containment, component accessors."""
    df = spark.createDataFrame(
        [("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))",)],
        "w string",
    )
    g = P.st_geom_from_text("w")
    row = df.select(
        P.st_geometry_type(g).alias("t"),
        P.st_area(g).alias("area"),
        P.st_length(g).alias("perim"),
        P.st_num_geometries(g).alias("ng"),
        P.st_contains(g, P.st_point(F.lit(6.0), F.lit(6.0))).alias("in2"),
        P.st_contains(g, P.st_point(F.lit(3.0), F.lit(3.0))).alias("between"),
        P.st_xmax(g).alias("xmax"),
        P.st_area(P.st_geometry_n(g, 2)).alias("a2"),
        P.st_x(P.st_centroid(g)).alias("cx"),
    ).collect()[0]
    assert row.t == "ST_MultiPolygon"
    assert row.area == 1.0 + 4.0
    assert row.perim == 4.0 + 8.0
    assert row.ng == 2
    assert row.in2 and not row.between
    assert row.xmax == 7.0  # envelope spans every part, not just ring 0
    assert row.a2 == 4.0
    # area-weighted centroid: (0.5*1 + 6*4)/5 = 4.9
    assert row.cx == pytest.approx(4.9)


def test_bing_tiles(spark):
    """Bing tile math vs an independent Python reimplementation of the
    Microsoft quadkey spec (BingTileFunctions.java parity)."""
    import math as m

    def py_tile_at(lat, lon, zoom):
        lat = min(max(lat, -85.05112878), 85.05112878)
        n = 2 ** zoom
        x = int(m.floor((lon + 180) / 360 * n))
        s = m.sin(m.radians(lat))
        y = int(m.floor((0.5 - m.log((1 + s) / (1 - s)) / (4 * m.pi)) * n))
        return min(max(x, 0), n - 1), min(max(y, 0), n - 1)

    def py_quadkey(x, y, zoom):
        qk = ""
        for i in range(zoom - 1, -1, -1):
            qk += str(((x >> i) & 1) + 2 * ((y >> i) & 1))
        return qk

    lat, lon, zoom = 47.610378, -122.200676, 12
    ex, ey = py_tile_at(lat, lon, zoom)
    eqk = py_quadkey(ex, ey, zoom)

    df = spark.range(1)
    row = df.select(
        P.bing_tile_at(F.lit(lat), F.lit(lon), F.lit(zoom)).alias("t"),
    ).select(
        F.col("t.x").alias("x"),
        F.col("t.y").alias("y"),
        P.bing_tile_quadkey(F.col("t")).alias("qk"),
        P.bing_tile_zoom_level(F.col("t")).alias("z"),
        P.bing_tile_quadkey(P.bing_tile(P.bing_tile_quadkey(F.col("t")))).alias("qk_rt"),
        F.size(P.bing_tiles_around(F.lit(lat), F.lit(lon), F.lit(zoom))).alias("n_around"),
        F.size(P.bing_tiles_around(F.lit(85.0), F.lit(-179.99), F.lit(3))).alias("n_corner"),
        P.st_contains(
            P.bing_tile_polygon(F.col("t")), P.st_point(F.lit(lon), F.lit(lat))
        ).alias("pt_in_tile"),
        P.bing_tile_quadkey(P.bing_tile(F.lit(3), F.lit(5), F.lit(3))).alias("qk353"),
    ).collect()[0]
    assert (row.x, row.y, row.z) == (ex, ey, zoom)
    assert row.qk == eqk and row.qk_rt == eqk
    assert row.n_around == 9
    assert row.n_corner == 4  # NW corner: only 2x2 neighbors exist
    assert row.pt_in_tile
    assert row.qk353 == py_quadkey(3, 5, 3)


def test_geo_locate_buffer_invalid(spark):
    df = spark.range(1)
    ln = P.st_line_from_text(F.lit("LINESTRING (0 0, 10 0)"))
    bent = P.st_line_from_text(F.lit("LINESTRING (0 0, 4 0, 4 4)"))
    row = df.select(
        P.line_locate_point(ln, P.st_point(3.0, 5.0)).alias("frac"),
        P.line_locate_point(bent, P.st_point(4.0, 1.0)).alias("frac2"),
        P.st_area(P.st_buffer(P.st_geom_from_text(F.lit("POINT (0 0)")), 2.0)).alias("circ_area"),
        P.geometry_invalid_reason(P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))).alias("ok"),
        P.geometry_invalid_reason(P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 4 4))"))).alias("short"),
        P.geometry_invalid_reason(P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 0 4, 4 4, 0 0))"))).alias("bowtie"),
    ).collect()[0]
    assert row.frac == 0.3  # projection of (3,5) on 10-long segment
    assert abs(row.frac2 - 5 / 8) < 1e-12  # 4 along + 1 up of total 8
    import math as m
    assert abs(row.circ_area - m.pi * 4) / (m.pi * 4) < 0.02  # 32-gon ~ pi r^2
    assert row.ok is None
    assert row.short == "Polygon has fewer than 4 points"
    assert row.bowtie == "Polygon ring self-intersects"


def test_geo_components_boundary_disjoint(spark):
    df = spark.range(1)
    mp = P.st_geom_from_text(F.lit("MULTIPOINT (1 2, 3 4, 5 6)"))
    sq = P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    ln = P.st_line_from_text(F.lit("LINESTRING (0 0, 3 4)"))
    ring = P.st_line_from_text(F.lit("LINESTRING (0 0, 1 0, 1 1, 0 0)"))
    far = P.st_polygon(F.lit("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"))
    row = df.select(
        P.st_num_geometries(mp).alias("n_mp"),
        P.st_num_geometries(sq).alias("n_sq"),
        P.st_x(P.st_point_n(P.st_geometry_n(mp, 2), 1)).alias("g2x"),
        F.size(P.st_geometries(mp)).alias("n_comps"),
        P.st_geometry_type(P.st_boundary(sq)).alias("b_sq"),
        P.st_num_points(P.st_boundary(ln)).alias("b_ln_pts"),
        P.st_is_empty(P.st_boundary(ring)).alias("b_ring_empty"),
        P.st_disjoint(sq, far).alias("disj"),
        P.st_disjoint(sq, sq).alias("not_disj"),
    ).collect()[0]
    assert row.n_mp == 3 and row.n_sq == 1
    assert row.g2x == 3.0 and row.n_comps == 3
    assert row.b_sq == "ST_LineString"
    assert row.b_ln_pts == 2 and row.b_ring_empty
    assert row.disj and not row.not_disj


def test_geo_convex_hull_and_simplify(spark):
    df = spark.range(1)
    mp = P.st_geom_from_text(
        F.lit("MULTIPOINT (0 0, 4 0, 4 4, 0 4, 2 2, 1 1, 3 1)")
    )
    zigzag = P.st_line_from_text(
        F.lit("LINESTRING (0 0, 1 0.05, 2 -0.04, 3 0.03, 4 0)")
    )
    # materialize the UDF outputs first: Spark disallows Python-UDF
    # expressions nested inside higher-order-function lambdas
    staged = df.select(
        P.st_convex_hull(mp).alias("hull"),
        P.simplify_geometry(zigzag, 0.1).alias("simp"),
        P.simplify_geometry(zigzag, 0.001).alias("keep"),
    )
    row = staged.select(
        P.st_area(F.col("hull")).alias("hull_area"),
        P.st_num_points(F.col("hull")).alias("hull_pts"),
        P.st_num_points(F.col("simp")).alias("simp_pts"),
        P.st_num_points(F.col("keep")).alias("keep_pts"),
    ).collect()[0]
    assert row.hull_area == 16.0  # interior points fall away -> 4x4 square
    assert row.hull_pts == 4
    assert row.simp_pts == 2      # wiggles under tolerance collapse
    assert row.keep_pts == 5      # tight tolerance keeps every vertex


def test_geo_rings_validity_equality(spark):
    df = spark.range(1)
    sq = P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    sq_rot = P.st_polygon(F.lit("POLYGON ((4 0, 4 4, 0 4, 0 0, 4 0))"))
    tri = P.st_polygon(F.lit("POLYGON ((0 0, 6 0, 0 6, 0 0))"))
    bow = P.st_polygon(F.lit("POLYGON ((0 0, 4 0, 0 4, 4 4, 0 0))"))
    row = df.select(
        P.st_geometry_type(P.st_exterior_ring(sq)).alias("ring_type"),
        P.st_num_interior_ring(sq).alias("n_holes"),
        F.size(P.st_interior_rings(sq)).alias("holes_arr"),
        P.st_interior_ring_n(sq, 1).isNull().alias("hole1_null"),
        F.size(P.st_envelope_as_pts(tri)).alias("env_pts"),
        P.st_x(F.element_at(P.st_envelope_as_pts(tri), 2)).alias("env_max_x"),
        P.st_is_valid(sq).alias("sq_valid"),
        P.st_is_valid(bow).alias("bow_valid"),
        P.st_is_simple(sq).alias("sq_simple"),
        P.st_is_simple(bow).alias("bow_simple"),
        P.st_equals(sq, sq_rot).alias("rot_eq"),
        P.st_equals(sq, tri).alias("neq"),
    ).collect()[0]
    assert row.ring_type == "ST_LineString"
    assert row.n_holes == 0 and row.holes_arr == 0 and row.hole1_null
    assert row.env_pts == 2 and row.env_max_x == 6.0
    assert row.sq_valid and not row.bow_valid
    assert row.sq_simple and not row.bow_simple
    assert row.rot_eq and not row.neq


def test_geo_set_operations(spark):
    """ST_Union/Intersection/Difference/SymDifference on overlapping,
    nested and disjoint rectangles + point-set algebra (GeoFunctions
    stUnion:521/stIntersection:807/stDifference:771/stSymmetricDifference:842)."""
    df = spark.range(1)
    g = lambda w: P.st_geom_from_text(F.lit(w))  # noqa: E731
    A = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    B = g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    D = g("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")  # strictly inside A
    C = g("POLYGON ((10 0, 11 0, 11 1, 10 1, 10 0))")  # disjoint from A
    mp1 = g("MULTIPOINT ((0 0), (1 1), (2 2))")
    mp2 = g("MULTIPOINT ((1 1), (3 3))")
    mat = df.select(
        P.st_intersection(A, B).alias("i"),
        P.st_union(A, B).alias("u"),
        P.st_difference(A, B).alias("d"),
        P.st_sym_difference(A, B).alias("s"),
        P.st_difference(A, D).alias("hole"),
        P.st_union(A, C).alias("dis_u"),
        P.st_intersection(A, C).alias("dis_i"),
        P.st_intersection(mp1, mp2).alias("mpi"),
        P.st_sym_difference(mp1, mp2).alias("mps"),
    )
    row = mat.select(
        P.st_area("i").alias("ai"),
        P.st_area("u").alias("au"),
        P.st_area("d").alias("ad"),
        P.st_area("s").alias("as_"),
        P.st_area("hole").alias("ah"),
        P.st_num_interior_ring("hole").alias("nir"),
        P.st_contains(F.col("hole"), P.st_point(F.lit(1.5), F.lit(1.5))).alias("in_hole"),
        P.st_area("dis_u").alias("adu"),
        P.st_geometry_type("dis_u").alias("tdu"),
        P.st_num_geometries("dis_i").alias("ndi"),
        P.st_num_points("mpi").alias("nmpi"),
        P.st_num_points("mps").alias("nmps"),
    ).collect()[0]
    assert row.ai == 4.0 and row.au == 28.0 and row.ad == 12.0 and row.as_ == 24.0
    assert row.ah == 15.0 and row.nir == 1 and not row.in_hole
    assert row.adu == 17.0 and row.tdu == "ST_MultiPolygon" and row.ndi == 0
    assert row.nmpi == 1 and row.nmps == 3


def test_geo_topological_predicates(spark):
    """ST_Crosses/ST_Overlaps/ST_Touches (GeoFunctions.java:869,926,953)."""
    df = spark.range(1)
    g = lambda w: P.st_geom_from_text(F.lit(w))  # noqa: E731
    A = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    B = g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")   # overlaps A
    C = g("POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))")   # shares edge x=4 with A
    L = g("LINESTRING (-1 2, 5 2)")                # enters and leaves A
    Lin = g("LINESTRING (1 1, 2 2)")               # interior to A
    L6 = g("LINESTRING (0 0, 3 0)")
    L7 = g("LINESTRING (1 0, 5 0)")                # collinear 1-dim overlap
    row = df.select(
        P.st_overlaps(A, B).alias("ab_over"),
        P.st_touches(A, B).alias("ab_touch"),
        P.st_overlaps(A, C).alias("ac_over"),
        P.st_touches(A, C).alias("ac_touch"),
        P.st_crosses(L, A).alias("l_cross"),
        P.st_crosses(Lin, A).alias("lin_cross"),
        P.st_overlaps(L6, L7).alias("l67_over"),
        P.st_crosses(L6, L7).alias("l67_cross"),
    ).collect()[0]
    assert row.ab_over and not row.ab_touch
    assert not row.ac_over and row.ac_touch
    assert row.l_cross and not row.lin_cross
    assert row.l67_over and not row.l67_cross


def test_geo_distance_relate_buffer(spark):
    """General ST_Distance (st_distance_geom), restricted DE-9IM
    ST_Relate, and convex-shape ST_Buffer (GeoFunctions stDistance /
    stRelate:941 / stBuffer:182)."""
    df = spark.range(1)
    g = lambda w: P.st_geom_from_text(F.lit(w))  # noqa: E731
    A = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    B = g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    D = g("POLYGON ((10 0, 12 0, 12 2, 10 2, 10 0))")
    L = g("LINESTRING (6 0, 6 4)")
    pt = g("POINT (7 4)")
    row = df.select(
        P.st_distance_geom(A, D).alias("d_ad"),
        P.st_distance_geom(A, L).alias("d_al"),
        P.st_distance_geom(A, B).alias("d_ab"),
        P.st_distance_geom(pt, A).alias("d_pa"),
        P.st_relate(A, B, "T*T***T**").alias("rel_overlap"),
        P.st_relate(A, D, "FF*FF****").alias("rel_disjoint"),
    ).collect()[0]
    assert row.d_ad == 6.0 and row.d_al == 2.0 and row.d_ab == 0.0 and row.d_pa == 3.0
    assert row.rel_overlap and row.rel_disjoint
    buf = df.select(P.st_buffer_geom(A, 2.0).alias("b")).select(
        P.st_area("b").alias("area"), P.st_xmax("b").alias("xmax")
    ).collect()[0]
    # rounded offset of a 4x4 square: 16 + 4·4·2 + π·2² (32-gon slightly under)
    assert abs(buf.area - (16 + 32 + math.pi * 4)) < 0.3
    assert buf.xmax == 6.0
    import pytest as _pt
    with _pt.raises(ValueError):
        P.st_buffer_geom(A, -1.0)


def test_ml_registry_names(spark):
    """MLFunctions.java names in the registry: features/learn_classifier/
    classify/regress (collected-training-set model, 1-NN, the text
    Engine.sql runs) and evaluate_classifier_predictions."""
    from pyspark.sql import functions as F

    from prestodb_presto_spark.functions import presto as P

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (0, [5.0, 6.0]), (1, [1.2, 2.1])], "label: int, f: array<double>"
    )
    model = df.agg(P.learn_classifier("label", "f").alias("m"))
    pred = model.select(
        P.classify([1.1, 2.0], "m").alias("p"),
        P.regress([4.9, 6.1], "m").alias("r"),
    ).collect()[0]
    assert pred.p == 1 and pred.r == 0.0
    ev = df.agg(
        P.evaluate_classifier_predictions(F.col("label"), F.lit(1)).alias("a")
    ).collect()[0].a
    assert ev == "Accuracy: 2/3 (66.67%)"


def test_geo_mechanical_contracts(spark):
    """Round-6 contracts, round-10 closure: st_relate answers
    dimension-digit DE-9IM patterns exactly for ALL areal ring sets
    (simple, holed, MULTIPOLYGON) and refuses only line/point digits;
    st_buffer_geom answers concave polygons, bent polylines AND
    past-feature-size distances exactly (offset curve + nonzero-winding
    global clipping, holes included)."""
    import pytest as _pt

    df = spark.range(1)
    g = lambda w: P.st_geom_from_text(F.lit(w))  # noqa: E731
    A = g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    B = g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")
    # T/F/* patterns answered natively
    assert df.select(P.st_relate(A, B, "T*T***T**").alias("v")).collect()[0].v
    # round 9: dimension digits answered EXACTLY for simple polygons —
    # the canonical OGC patterns
    def rel(b_wkt, pat):
        return (
            df.select(P.st_relate(A, g(b_wkt), pat).alias("v")).collect()[0].v
        )

    assert rel("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", "212101212")  # overlaps
    assert rel("POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))", "FF2F11212")  # touches (edge)
    assert rel("POLYGON ((4 4, 8 4, 8 8, 4 8, 4 4))", "FF2F01212")  # touches (corner)
    assert rel("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "212FF1FF2")  # contains
    assert rel("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "2FFF1FFF2")  # equals
    assert rel("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))", "FF2FF1212")  # disjoint
    assert not rel("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))", "****1****")
    # round 10: digits exact on HOLED polygons and MULTIPOLYGONs
    donut = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))")

    def rel2(a_expr, b_expr, pat):
        return df.select(P.st_relate(a_expr, b_expr, pat).alias("v")).collect()[0].v

    # square inside the hole: disjoint (every cell hand-derived)
    assert rel2(donut, g("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))"), "FF2FF1212")
    # square exactly filling the hole: B's boundary IS the hole ring
    assert rel2(donut, g("POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))"), "FF2F112F2")
    # square straddling the hole wall: overlaps
    assert rel2(donut, g("POLYGON ((2 4, 6 4, 6 6, 2 6, 2 4))"), "212101212")
    # donut within its own filled outer ring (hole in B's interior)
    assert rel2(donut, g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"), "2FF11F2F2")
    mp = g(
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),"
        " ((10 10, 12 10, 12 12, 10 12, 10 10)))"
    )
    assert rel2(mp, g("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"), "212101212")
    assert rel2(mp, mp, "2FFF1FFF2")
    # round 10: digit patterns on LINE and POINT kinds now answer exactly
    # (general dispatch, OGC boundary conventions) — the corner-entering
    # line's full matrix vs A, plus crossing / within / point cases
    assert rel2(A, g("LINESTRING (0 0, 1 1)"), "102F01FF2")
    assert not rel2(A, g("LINESTRING (0 0, 1 1)"), "1*T***T**")  # ei is F
    assert rel2(g("LINESTRING (-1 2, 5 2)"), A, "101FF0212")  # crosses
    assert rel2(g("LINESTRING (1 1, 2 2)"), A, "1FF0FF212")   # within
    assert rel2(g("POINT (1 1)"), A, "0FFFFF212")             # point in
    assert rel2(
        g("LINESTRING (0 0, 2 0)"), g("LINESTRING (1 0, 3 0)"), "1010F0102"
    )  # line overlaps line

    import math as _m

    def area_of(expr):
        return (
            df.select(expr.alias("b"))
            .select(P.st_area("b").alias("a"))
            .collect()[0]
            .a
        )

    # concave L-shape, d=1 — EXACT analytic value: A(12) + P·d(16)
    # − reflex-corner rectangle overlap(1) + five quarter-circle caps
    # (5π/4); the n-gon arcs land slightly UNDER the true circles
    L_poly = g("POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))")
    a = area_of(P.st_buffer_geom(L_poly, 1.0))
    exact = 27 + 5 * _m.pi / 4
    assert exact - 0.08 < a <= exact, a
    # bent polyline, d=0.5 — rectangles(4) − bend overlap(0.25)
    # + two half caps(π/8·2) + outer bend quarter(π/16)
    bent = g("LINESTRING (0 0, 2 0, 2 2)")
    a = area_of(P.st_buffer_geom(bent, 0.5))
    exact = 3.75 + _m.pi / 4 + _m.pi / 16
    assert exact - 0.03 < a <= exact, a
    # straight capsule unchanged: 4x2 rectangle + unit circle caps
    a = area_of(P.st_buffer_geom(g("LINESTRING (0 0, 4 0)"), 1.0))
    assert abs(a - (8 + _m.pi)) < 0.1
    # round 10: d past the local feature size (the 2-wide slot of a
    # U-shape buffered by 3) now answers EXACTLY via nonzero-winding
    # clipping of the self-intersecting offset curve — pinned against
    # an independent 400x400 grid integration of {p: dist(p,U) <= 3}
    # (247.78 ± grid error; the n-gon arcs land slightly under the
    # true circular caps)
    U = g("POLYGON ((0 0, 10 0, 10 10, 6 10, 6 2, 4 2, 4 10, 0 10, 0 0))")
    a = area_of(P.st_buffer_geom(U, 3.0))
    assert 247.0 < a < 248.5, a
    # hole growth: a C-shape whose 1-wide mouth closes under d=1 —
    # result must be ONE polygon with TWO rings (outer + grown hole);
    # area pinned against a 500x500 grid truth of 127.26
    C = g(
        "POLYGON ((0 0, 10 0, 10 10, 5.5 10, 5.5 8, 8 8, 8 2, 2 2,"
        " 2 8, 4.5 8, 4.5 10, 0 10, 0 0))"
    )
    row = (
        df.select(P.st_buffer_geom(C, 1.0).alias("b"))
        .select(
            F.col("b.kind").alias("k"),
            F.size("b.rings").alias("nr"),
            P.st_area("b").alias("a"),
        )
        .collect()[0]
    )
    assert row.k == "polygon" and row.nr == 2
    assert 126.5 < row.a < 127.3, row.a
    # buffer containment: original boundary vertices sit strictly inside
    within = (
        df.select(P.st_buffer_geom(L_poly, 1.0).alias("b"))
        .select(
            (
                P.st_contains("b", P.st_point(F.lit(0.0), F.lit(0.0)))
                & P.st_contains("b", P.st_point(F.lit(2.0), F.lit(2.0)))
                & P.st_contains("b", P.st_point(F.lit(4.0), F.lit(2.0)))
            ).alias("v")
        )
        .collect()[0]
        .v
    )
    assert within


def test_geo_set_operations_ringsets(spark):
    """Round 10: boolean set ops on HOLED and MULTIPOLYGON inputs via
    the GF(2) even-odd identity — analytic areas and containment
    probes; crossing configurations keep the documented NULL."""
    df = spark.range(1)
    g = lambda w: P.st_geom_from_text(F.lit(w))  # noqa: E731
    import prestodb_presto_spark.functions.geo_setops as S

    donut = g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))")
    hole_box = g("POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))")
    clip_box = g("POLYGON ((2 2, 12 2, 12 8, 2 8, 2 2))")
    island = g("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    mp = g(
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),"
        " ((10 10, 12 10, 12 12, 10 12, 10 10)))"
    )
    far = g("POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))")
    step1 = df.select(
        S.st_intersection(donut, hole_box).alias("i1"),
        S.st_intersection(donut, clip_box).alias("i2"),
        S.st_union(donut, island).alias("u1"),
        S.st_difference(donut, hole_box).alias("d1"),
        S.st_union(mp, far).alias("u2"),
        S.st_intersection(donut, donut).alias("slf"),
        S.st_sym_difference(donut, clip_box).alias("nul"),
    )
    row = step1.select(
        P.st_area("i1").alias("a1"),
        P.st_area("i2").alias("a2"),
        P.st_area("u1").alias("a3"),
        P.st_area("d1").alias("a4"),
        P.st_area("u2").alias("a5"),
        P.st_area("slf").alias("a6"),
        F.col("nul.pts").isNull().alias("nul"),
        P.st_contains("i1", P.st_point(F.lit(2.5), F.lit(2.5))).alias("in_band"),
        P.st_contains("i1", P.st_point(F.lit(5.0), F.lit(5.0))).alias("in_hole"),
    ).collect()[0]
    # donut∩window(⊃hole)=36−16; donut∩clip=48−16; donut∪island=84+4;
    # donut∖window=100−36; multipolygon∪far=16+4+1; donut∩donut=84
    assert (row.a1, row.a2, row.a3, row.a4, row.a5, row.a6) == (
        20.0, 32.0, 88.0, 64.0, 21.0, 84.0
    )
    assert row.nul and row.in_band and not row.in_hole


def test_buffer_tangential_self_overlap_fail_loud(spark):
    """Round 11 (ADVICE r10): an offset curve that self-OVERLAPS
    collinearly (buffer distance exactly half the slot width — the
    opposite offset walls coincide) is not transversally clippable;
    it must raise, not return a self-overlapping 'polygon' whose
    parity-based st_area is silently wrong."""
    import pytest as _pt

    df = spark.range(1)
    g = lambda w: P.st_geom_from_text(F.lit(w))  # noqa: E731
    # 2-wide slot buffered by exactly 1: inner walls offset onto x=5
    U = g("POLYGON ((0 0, 10 0, 10 10, 6 10, 6 2, 4 2, 4 10, 0 10, 0 0))")
    with _pt.raises(Exception, match="self-touches|overlaps collinearly"):
        df.select(P.st_buffer_geom(U, 1.0).alias("b")).collect()
