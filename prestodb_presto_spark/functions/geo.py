"""Geospatial functions — points, linestrings and polygons (with
interior rings / multipolygons) as native Spark expressions.

Reference: presto-geospatial/.../GeoFunctions.java:92 registers 56
@ScalarFunction ST_* functions over an ESRI geometry type
(plugin/geospatial/GeometryType.java).  The engine implements them
without any geometry library, on two plain Spark types:

  POINT  = STRUCT<x: DOUBLE, y: DOUBLE>                  (the fast path)
  GEOM   = STRUCT<kind: STRING,
                  pts:  ARRAY<POINT>,                    (ring 0 / all vertices)
                  rings: ARRAY<ARRAY<POINT>>>            (full ring decomposition)

with kind ∈ {point, multipoint, linestring, polygon, multipolygon}.
``pts`` keeps the exterior ring (polygon kinds) or every vertex (point/
line kinds) so single-ring math stays one array hop; ``rings`` carries
POLYGON interior rings and MULTIPOLYGON parts.  Area, containment and
perimeter use even-odd ring parity — one formula covers holes and
multi-part shapes (GeoFunctions.java:529 validateType lists the same
kind set).  All geometry math is whole-stage-codegen'd higher-order
array expressions — shoelace area, segment-sum length, length-weighted
centroid, ray-casting point-in-polygon, segment-intersection tests — so
polygons behave like any other column at 100 TB (no UDF, no R-tree
build on the driver).  Boolean set operations (ST_Union family) live in
the pandas-UDF tier: functions/geo_setops.py.

Limits (documented, not silently wrong): MULTIPOLYGON WKT round-trips
each ring as its own part (holes inside multipolygon parts measure
correctly via parity but serialize as separate parts).  Round 10
closed both remaining round-9 slivers: ST_Relate answers T/F/* DE-9IM
patterns natively AND dimension-digit (0/1/2) patterns EXACTLY for ALL
areal inputs — simple, holed, and MULTIPOLYGON ring sets
(geo_setops.relate_exact — interior areas via the even-odd
inclusion-exclusion over pairwise Greiner–Hormann clips, boundary
dimensions via ring-set split-at-intersections midpoint
classification) — and for LINE and POINT kinds in every combination
(OGC boundary conventions: point boundary empty, line boundary =
endpoints, mod-2; 14 canonical matrices pinned in
tests/test_geo_properties.py).  ST_Buffer answers convex, concave AND
past-local-feature-size distances exactly: the offset curve
(st_buffer_geom: arcs at convex vertices, miter joins at reflex ones)
is globally clipped when it self-intersects (_clip_offset_loops:
nonzero-winding split/filter/stitch), growing interior holes where the
dilation closes over a concavity.
tests/test_ml_geo.py::test_geo_mechanical_contracts asserts the exact
canonical-pattern values, clipped-buffer areas against analytic truth,
and the remaining line/point-digit refusal.

Session SQL functions. The measures and predicates built from nested
higher-order expressions (area, centroid, containment, intersects,
crosses, overlaps, touches, geometry distance, T/F/* relate,
self-intersection) each have ONE implementation: a ``_S_*`` template
rendered as SQL text and created as ``CREATE TEMPORARY FUNCTION
__presto_geo_<name>(...) RETURN <template>``; the Python wrapper is
one ``F.call_function``, whatever its operands are. Spark inlines the
body into the plan (no Python node) behind a Project that binds each
argument, cast to the declared parameter type. Geometry constructors
already return exactly that type, so the cast drops out, Catalyst
folds the binding Project away and calls on one column share common
subexpressions as inline expressions do; building the Column tree
operator by operator instead would cost a py4j round trip per operator
— seconds per predicate. Creation is lazy: the first wrapper call in a
session checks ``spark.catalog.functionExists`` and creates the
function in the active session (0.1–0.9 s each), so sessions that
never call geo pay nothing. Temporary functions are per session, and a
new session creates its own on first use. Bodies are flat strings
composed in Python, never calls of one registered function from
another: Spark 4.1 rejects a SQL function whose argument is a lambda
variable (MISSING_ATTRIBUTES.RESOLVED_ATTRIBUTE_MISSING_FROM_INPUT),
so the wrappers cannot take lambda variables either. The
``__presto_geo_`` prefix keeps the names clear of Spark's own ``st_*``
builtins (st_srid, st_asbinary, ...), which a temporary function may
not shadow.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col

# The POINT and GEOM types, every field nullable.  Constructors cast to
# them exactly: an argument of a session SQL function's declared type
# binds without a cast (see the module docstring).
POINT_DDL = "struct<x:double,y:double>"
GEOM_DDL = f"struct<kind:string,pts:array<{POINT_DDL}>,rings:array<array<{POINT_DDL}>>>"


@register("st_point")
def st_point(x, y) -> Column:
    """ST_Point(x, y) -> struct(x, y) (GeoFunctions.stPoint)."""
    return F.struct(
        lit_or_col(x).cast("double").alias("x"), lit_or_col(y).cast("double").alias("y")
    ).cast(POINT_DDL)


@register("st_x")
def st_x(p) -> Column:
    return c(p).getField("x")


@register("st_y")
def st_y(p) -> Column:
    return c(p).getField("y")


@register("st_geometry_from_text")
def st_geometry_from_text(wkt) -> Column:
    """Parse 'POINT (x y)' WKT (GeoFunctions.stGeometryFromText — point
    subset; other geometry kinds need Sedona)."""
    col = c(wkt)
    xy = F.regexp_extract(col, r"POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 1), F.regexp_extract(
        col, r"POINT\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s*\)", 2
    )
    return F.struct(xy[0].cast("double").alias("x"), xy[1].cast("double").alias("y"))


@register("st_as_text")
def st_as_text(p) -> Column:
    pt = c(p)
    return F.concat(
        F.lit("POINT ("),
        pt.getField("x").cast("string"),
        F.lit(" "),
        pt.getField("y").cast("string"),
        F.lit(")"),
    )


@register("st_distance")
def st_distance(a, b) -> Column:
    """Euclidean distance between points (GeoFunctions.stDistance)."""
    pa, pb = c(a), c(b)
    dx = pa.getField("x") - pb.getField("x")
    dy = pa.getField("y") - pb.getField("y")
    return F.sqrt(dx * dx + dy * dy)


@register("great_circle_distance")
def great_circle_distance(lat1, lon1, lat2, lon2) -> Column:
    """Haversine distance in km (GeoFunctions.greatCircleDistance)."""
    rlat1, rlon1 = F.radians(c(lat1)), F.radians(c(lon1))
    rlat2, rlon2 = F.radians(c(lat2)), F.radians(c(lon2))
    dlat, dlon = rlat2 - rlat1, rlon2 - rlon1
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2 * 6371.01) * F.asin(F.sqrt(h))


@register("st_contains_envelope")
def st_contains_envelope(xmin, ymin, xmax, ymax, p) -> Column:
    """Envelope ⊇ point (the broadcastable side of a spatial join —
    reference SpatialJoinOperator.java:38 builds an R-tree; Spark-first
    a small envelope set broadcasts and this predicate filters)."""
    pt = c(p)
    return (
        (pt.getField("x") >= lit_or_col(xmin))
        & (pt.getField("x") <= lit_or_col(xmax))
        & (pt.getField("y") >= lit_or_col(ymin))
        & (pt.getField("y") <= lit_or_col(ymax))
    )


@register("st_envelope_intersects")
def st_envelope_intersects(a_xmin, a_ymin, a_xmax, a_ymax, b_xmin, b_ymin, b_xmax, b_ymax) -> Column:
    return (
        (lit_or_col(a_xmin) <= lit_or_col(b_xmax))
        & (lit_or_col(a_xmax) >= lit_or_col(b_xmin))
        & (lit_or_col(a_ymin) <= lit_or_col(b_ymax))
        & (lit_or_col(a_ymax) >= lit_or_col(b_ymin))
    )


# --- general geometry (kind + point array) ----------------------------------


def _pt(x: Column, y: Column) -> Column:
    return F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))


def _geom(kind: str | Column, pts: Column, rings: Column | None = None) -> Column:
    """GEOM constructor; single-ring callers get rings = [pts]."""
    kind_col = F.lit(kind) if isinstance(kind, str) else kind
    rings_col = F.array(pts) if rings is None else rings
    return F.struct(kind_col.alias("kind"), pts.alias("pts"), rings_col.alias("rings")).cast(
        GEOM_DDL
    )


def _parse_pts(body: Column) -> Column:
    """'x1 y1, x2 y2, …' -> array<struct<x,y>>."""
    return F.transform(
        F.split(body, ","),
        lambda s: _pt(
            F.element_at(F.split(F.trim(s), r"\s+"), 1),
            F.element_at(F.split(F.trim(s), r"\s+"), 2),
        ),
    )


def _parse_rings(w: Column) -> Column:
    """Every innermost '(…)' group of a WKT string, parsed to a ring.
    [^()] keeps the match innermost, so 'POLYGON ((a),(b))' and
    'MULTIPOLYGON (((a)),((b),(c)))' both yield one entry per ring."""
    return F.transform(
        F.regexp_extract_all(w, F.lit(r"\(([^()]+)\)"), F.lit(1)), _parse_pts
    )


@register("st_line_from_text")
def st_line_from_text(wkt) -> Column:
    """ST_LineFromText('LINESTRING (x y, …)') (GeoFunctions.stLineFromText)."""
    body = F.regexp_extract(c(wkt), r"LINESTRING\s*\(([^()]*)\)", 1)
    return _geom("linestring", _parse_pts(body))


@register("st_polygon")
def st_polygon(wkt) -> Column:
    """ST_Polygon('POLYGON ((x y, …), (hole…), …)') — exterior ring in
    ``pts``, full ring list (exterior + interior) in ``rings``
    (GeoFunctions.stPolygon; ring model GeoFunctions.java:529)."""
    rings = _parse_rings(c(wkt))
    return _geom("polygon", F.element_at(rings, 1), rings)


@register("st_geom_from_text")
def st_geom_from_text(wkt) -> Column:
    """General WKT parser → GEOM: POINT / MULTIPOINT / LINESTRING /
    POLYGON (with interior rings) / MULTIPOLYGON, the full
    GeoFunctions.stGeometryFromText kind list.  (st_geometry_from_text
    keeps returning the bare POINT struct for the point fast path.)
    MULTIPOLYGON flattens to one rings-entry per ring; even-odd parity
    keeps measurements correct regardless of part grouping."""
    w = F.trim(c(wkt))
    kind = F.lower(F.regexp_extract(w, r"^\s*([A-Za-z]+)", 1))
    rings = _parse_rings(w)
    poly = kind.isin("polygon", "multipolygon")
    # point kinds: MULTIPOINT ((1 2), (3 4)) parses one "ring" per point —
    # flatten so pts is always the full vertex list for non-polygon kinds
    pts = F.when(poly, F.element_at(rings, 1)).otherwise(F.flatten(rings))
    return _geom(kind, pts, F.when(poly, rings).otherwise(F.array(F.flatten(rings))))


_SEGS_DDL = f"array<struct<a:{POINT_DDL},b:{POINT_DDL}>>"


def _pts_segs(pts: Column) -> Column:
    """Consecutive point pairs of a vertex array; empty for degenerate
    (<2 vertex) inputs — sequence(1, size-1) on a 1-point array counts
    DOWN and walks off the end."""
    return F.when(
        F.size(pts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(pts) - 1),
            lambda i: F.struct(
                F.element_at(pts, i).alias("a"), F.element_at(pts, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast(_SEGS_DDL))


def _segs(g: Column) -> Column:
    """Consecutive point pairs of a GEOM's primary ring (pts)."""
    return _pts_segs(g.getField("pts"))


def _seglen(s: Column) -> Column:
    dx = s.getField("b").getField("x") - s.getField("a").getField("x")
    dy = s.getField("b").getField("y") - s.getField("a").getField("y")
    return F.sqrt(dx * dx + dy * dy)


# --- session SQL functions -------------------------------------------------
#
# The ``_S_*`` templates below render geometry math as Spark SQL text over
# operand expressions given as SQL strings (parameter names, struct
# fields or lambda variables).  _session_fn turns a composed template
# into a temporary SQL function; see the module docstring for why.


def _session_fn(
    name: str, params: str, returns: str, body: Callable[[], str], *args
) -> Column:
    """Call the session SQL function ``__presto_geo_<name>``, creating it
    in the active session on first use from ``body()`` — one flat SQL
    string whose free names are the declared ``params``."""
    fn = f"__presto_geo_{name}"
    spark = SparkSession.active()
    if not spark.catalog.functionExists(fn):
        # OR REPLACE: two threads may both find it missing; same body
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {fn}({params})"
            f" RETURNS {returns} RETURN {body()}"
        )
    return F.call_function(fn, *(c(a) for a in args))


_G = f"g {GEOM_DDL}"
_AB = f"a {GEOM_DDL}, b {GEOM_DDL}"


def _S_segs(pts: str) -> str:
    """SQL form of _pts_segs."""
    return (
        f"CASE WHEN size({pts}) >= 2 THEN"
        f" transform(sequence(1, size({pts}) - 1),"
        f" _i -> named_struct('a', element_at({pts}, _i), 'b', element_at({pts}, _i + 1)))"
        f" ELSE cast(array() AS {_SEGS_DDL}) END"
    )


def _S_all_segs(g: str) -> str:
    """Segments of EVERY ring — the full boundary for polygon kinds
    (holes included), the same as _S_segs for single-ring geometries."""
    return f"flatten(transform({g}.rings, _r -> {_S_segs('_r')}))"


def _S_orient(p: str, q: str, r: str) -> str:
    return (
        f"(({q}.x - {p}.x) * ({r}.y - {p}.y) - ({q}.y - {p}.y) * ({r}.x - {p}.x))"
    )


def _S_on_boundary(g: str, p: str) -> str:
    """Point sits on some boundary segment (collinear + inside bbox)."""
    return (
        f"exists({_S_all_segs(g)}, _ob ->"
        f" ({_S_orient('_ob.a', '_ob.b', p)} = 0)"
        f" AND ({p}.x <= greatest(_ob.a.x, _ob.b.x))"
        f" AND ({p}.x >= least(_ob.a.x, _ob.b.x))"
        f" AND ({p}.y <= greatest(_ob.a.y, _ob.b.y))"
        f" AND ({p}.y >= least(_ob.a.y, _ob.b.y)))"
    )


def _S_ring_shoelace2(pts: str) -> str:
    """Twice the signed ring area: Σ (x_i·y_j − x_j·y_i)."""
    return (
        f"aggregate({_S_segs(pts)}, 0.0D, (_sh, _ss) -> _sh"
        f" + _ss.a.x * _ss.b.y - _ss.b.x * _ss.a.y)"
    )


def _S_ring_crossings(pts: str, px: str, py: str) -> str:
    """Ray-cast crossing count of one ring for point (px, py)."""
    return (
        f"aggregate({_S_segs(pts)}, 0, (_rc, _rs) -> _rc +"
        f" (CASE WHEN ((_rs.a.y > {py}) != (_rs.b.y > {py}))"
        f" AND ({px} < (_rs.b.x - _rs.a.x) * ({py} - _rs.a.y)"
        f" / (_rs.b.y - _rs.a.y) + _rs.a.x) THEN 1 ELSE 0 END))"
    )


def _S_all_crossings(g: str, px: str, py: str) -> str:
    """Crossing count over every ring — odd parity = inside, which is
    the even-odd rule: correct for holes AND multipolygon parts."""
    return (
        f"aggregate({g}.rings, 0, (_ac, _ar) -> _ac +"
        f" {_S_ring_crossings('_ar', px, py)})"
    )


def _S_ring_parity_sign(rings: str, ring: str) -> str:
    """+1 for rings at even nesting depth (outer boundaries), −1 at odd
    depth (holes): depth = how many OTHER rings contain this ring's
    first vertex.  Valid geometries never duplicate a ring, so the
    value-inequality filter drops exactly the ring itself."""
    crossings = _S_ring_crossings(
        "_pr", f"element_at({ring}, 1).x", f"element_at({ring}, 1).y"
    )
    return (
        f"(1 - 2 * (size(filter({rings}, _pr -> (_pr != {ring})"
        f" AND ({crossings} % 2 = 1))) % 2))"
    )


def _S_strictly_inside(g: str, p: str) -> str:
    """Interior containment: odd ray-cast parity AND not on the boundary."""
    return (
        f"(({_S_all_crossings(g, f'{p}.x', f'{p}.y')} % 2) = 1)"
        f" AND NOT ({_S_on_boundary(g, p)})"
    )


def _S_strictly_outside(g: str, p: str) -> str:
    return (
        f"(({_S_all_crossings(g, f'{p}.x', f'{p}.y')} % 2) = 0)"
        f" AND NOT ({_S_on_boundary(g, p)})"
    )


def _S_proper_cross_any(a: str, b: str) -> str:
    """Some segment pair crosses transversally (interior intersection)."""
    o1 = _S_orient("_p1.a", "_p1.b", "_p2.a")
    o2 = _S_orient("_p1.a", "_p1.b", "_p2.b")
    o3 = _S_orient("_p2.a", "_p2.b", "_p1.a")
    o4 = _S_orient("_p2.a", "_p2.b", "_p1.b")
    return (
        f"exists({_S_all_segs(a)}, _p1 -> exists({_S_all_segs(b)}, _p2 ->"
        f" ({o1} * {o2} < 0) AND ({o3} * {o4} < 0)))"
    )


def _S_collinear_overlap_any(a: str, b: str) -> str:
    """Some segment pair is collinear with >1 shared point (1-dim overlap)."""
    coll = (
        f"({_S_orient('_c1.a', '_c1.b', '_c2.a')} = 0)"
        f" AND ({_S_orient('_c1.a', '_c1.b', '_c2.b')} = 0)"
    )
    over = (
        "((least(greatest(_c1.a.x, _c1.b.x), greatest(_c2.a.x, _c2.b.x))"
        " > greatest(least(_c1.a.x, _c1.b.x), least(_c2.a.x, _c2.b.x)))"
        " OR (least(greatest(_c1.a.y, _c1.b.y), greatest(_c2.a.y, _c2.b.y))"
        " > greatest(least(_c1.a.y, _c1.b.y), least(_c2.a.y, _c2.b.y))))"
    )
    return (
        f"exists({_S_all_segs(a)}, _c1 -> exists({_S_all_segs(b)}, _c2 ->"
        f" ({coll}) AND {over}))"
    )


def _S_seg_intersects(s1: str, s2: str) -> str:
    """Proper/improper 2-segment intersection via orientation signs."""
    o1 = _S_orient(f"{s1}.a", f"{s1}.b", f"{s2}.a")
    o2 = _S_orient(f"{s1}.a", f"{s1}.b", f"{s2}.b")
    o3 = _S_orient(f"{s2}.a", f"{s2}.b", f"{s1}.a")
    o4 = _S_orient(f"{s2}.a", f"{s2}.b", f"{s1}.b")

    def on_seg(p, q, r):  # r collinear with pq: does r sit inside the box?
        return (
            f"(({r}.x <= greatest({p}.x, {q}.x)) AND ({r}.x >= least({p}.x, {q}.x))"
            f" AND ({r}.y <= greatest({p}.y, {q}.y)) AND ({r}.y >= least({p}.y, {q}.y)))"
        )

    return (
        f"((({o1} * {o2} < 0) AND ({o3} * {o4} < 0))"
        f" OR (({o1} = 0) AND {on_seg(f'{s1}.a', f'{s1}.b', f'{s2}.a')})"
        f" OR (({o2} = 0) AND {on_seg(f'{s1}.a', f'{s1}.b', f'{s2}.b')})"
        f" OR (({o3} = 0) AND {on_seg(f'{s2}.a', f'{s2}.b', f'{s1}.a')})"
        f" OR (({o4} = 0) AND {on_seg(f'{s2}.a', f'{s2}.b', f'{s1}.b')}))"
    )


@register("st_geometry_type")
def st_geometry_type(g) -> Column:
    """ST_GeometryType → reference spelling ('ST_Polygon' …)."""
    kind = c(g).getField("kind")
    return F.concat(
        F.lit("ST_"),
        F.when(kind == "point", "Point")
        .when(kind == "multipoint", "MultiPoint")
        .when(kind == "linestring", "LineString")
        .when(kind == "polygon", "Polygon")
        .when(kind == "multipolygon", "MultiPolygon")
        .otherwise(F.initcap(kind)),
    )


@register("st_num_points")
def st_num_points(g) -> Column:
    """Vertex count over all rings; polygon rings don't double-count
    their closing point (GeoFunctions.stPointCount semantics)."""
    gg = c(g)

    def ring_count(pts):
        first, last = F.element_at(pts, 1), F.element_at(pts, -1)
        closed = (first.getField("x") == last.getField("x")) & (
            first.getField("y") == last.getField("y")
        )
        return F.size(pts) - F.when(closed & (F.size(pts) > 1), 1).otherwise(0)

    return (
        F.when(
            gg.getField("kind").isin("polygon", "multipolygon"),
            F.aggregate(
                gg.getField("rings"), F.lit(0), lambda acc, ring: acc + ring_count(ring)
            ),
        ).otherwise(F.size(gg.getField("pts")))
    ).cast("int")


def _S_area(g: str) -> str:
    signed = (
        f"{_S_ring_parity_sign(f'{g}.rings', '_ag')}"
        f" * abs({_S_ring_shoelace2('_ag')}) / 2"
    )
    return (
        f"CASE WHEN {g}.kind IN ('polygon', 'multipolygon') THEN"
        f" aggregate({g}.rings, 0.0D, (_aa, _ag) -> _aa + {signed})"
        f" ELSE 0.0D END"
    )


@register("st_area")
def st_area(g) -> Column:
    """Even-odd area over all rings (GeoFunctions.stArea): each ring
    contributes ±|shoelace|/2 with sign = parity of its nesting depth
    (how many OTHER rings contain its first vertex).  One formula covers
    single rings (depth 0), polygon holes (depth 1 → subtract) and
    multipolygon parts (each depth 0); 0 for lower-dim geometries."""
    return _session_fn("area", _G, "double", lambda: _S_area("g"), g)


@register("st_length")
def st_length(g) -> Column:
    """Path length (linestring) / perimeter over ALL rings, holes
    included — ESRI calculateLength2D semantics (GeoFunctions.stLength)."""
    gg = c(g)
    ring_len = lambda ring: F.aggregate(  # noqa: E731
        _pts_segs(ring), F.lit(0.0), lambda acc, s: acc + _seglen(s)
    )
    return (
        F.when(gg.getField("kind") == "linestring", ring_len(gg.getField("pts")))
        .when(
            gg.getField("kind").isin("polygon", "multipolygon"),
            F.aggregate(
                gg.getField("rings"), F.lit(0.0), lambda acc, ring: acc + ring_len(ring)
            ),
        )
        .otherwise(F.lit(0.0))
    )


def _minmax(g, field: str, agg) -> Column:
    # flatten(rings) = every vertex incl. holes/parts (≡ pts for
    # non-polygon kinds) — a multipolygon's envelope must span all parts
    return agg(
        F.transform(F.flatten(c(g).getField("rings")), lambda p: p.getField(field))
    )


@register("st_xmin")
def st_xmin(g) -> Column:
    return _minmax(g, "x", F.array_min)


@register("st_xmax")
def st_xmax(g) -> Column:
    return _minmax(g, "x", F.array_max)


@register("st_ymin")
def st_ymin(g) -> Column:
    return _minmax(g, "y", F.array_min)


@register("st_ymax")
def st_ymax(g) -> Column:
    return _minmax(g, "y", F.array_max)


@register("st_envelope")
def st_envelope(g) -> Column:
    """Axis-aligned bounding box as a closed polygon GEOM."""
    xmin, xmax = st_xmin(g), st_xmax(g)
    ymin, ymax = st_ymin(g), st_ymax(g)
    ring = F.array(
        _pt(xmin, ymin), _pt(xmax, ymin), _pt(xmax, ymax), _pt(xmin, ymax), _pt(xmin, ymin)
    )
    return _geom("polygon", ring)


@register("st_is_empty")
def st_is_empty(g) -> Column:
    return F.size(c(g).getField("pts")) == 0


@register("st_is_closed")
def st_is_closed(g) -> Column:
    pts = c(g).getField("pts")
    first, last = F.element_at(pts, 1), F.element_at(pts, -1)
    return (F.size(pts) > 1) & (first.getField("x") == last.getField("x")) & (
        first.getField("y") == last.getField("y")
    )


@register("st_is_ring")
def st_is_ring(g) -> Column:
    """Closed + ≥4 points (simplicity beyond closure needs full topology;
    documented approximation)."""
    return st_is_closed(g) & (F.size(c(g).getField("pts")) >= 4)


@register("st_start_point")
def st_start_point(g) -> Column:
    return F.element_at(c(g).getField("pts"), 1)


@register("st_end_point")
def st_end_point(g) -> Column:
    return F.element_at(c(g).getField("pts"), -1)


@register("st_point_n")
def st_point_n(g, n) -> Column:
    """1-based vertex access (GeoFunctions.stPointN)."""
    return F.element_at(c(g).getField("pts"), lit_or_col(n))


@register("st_dimension")
def st_dimension(g) -> Column:
    kind = c(g).getField("kind")
    return (
        F.when(kind.isin("point", "multipoint"), 0)
        .when(kind == "linestring", 1)
        .otherwise(2)
        .cast("int")
    )


@register("st_coord_dim")
def st_coord_dim(g) -> Column:
    return F.lit(2).cast("int")


def _S_centroid(g: str) -> str:
    # polygon kinds: parity-weighted mean of per-ring shoelace centroids —
    # ring centroid c_i = Σ (v_i+v_j)·cross / (3·A2_i) (orientation
    # cancels), weight = ±|A2_i| with the same even-odd sign as st_area,
    # so holes subtract and multipolygon parts average area-weighted.
    def ring_c(field):
        num = (
            f"aggregate({_S_segs('_cg')}, 0.0D, (_cn, _cs) -> _cn"
            f" + (_cs.a.{field} + _cs.b.{field})"
            f" * (_cs.a.x * _cs.b.y - _cs.b.x * _cs.a.y))"
        )
        return f"({num} / (3 * nullif({_S_ring_shoelace2('_cg')}, 0.0D)))"

    signed_w = (
        f"({_S_ring_parity_sign(f'{g}.rings', '_cg')}"
        f" * abs({_S_ring_shoelace2('_cg')}))"
    )
    wsum = f"nullif(aggregate({g}.rings, 0.0D, (_cw, _cg) -> _cw + {signed_w}), 0.0D)"
    px = f"(aggregate({g}.rings, 0.0D, (_cx, _cg) -> _cx + {signed_w} * {ring_c('x')}) / {wsum})"
    py = f"(aggregate({g}.rings, 0.0D, (_cy, _cg) -> _cy + {signed_w} * {ring_c('y')}) / {wsum})"
    # linestring: length-weighted segment midpoints
    seglen = "sqrt((_ls.b.x - _ls.a.x) * (_ls.b.x - _ls.a.x) + (_ls.b.y - _ls.a.y) * (_ls.b.y - _ls.a.y))"
    segs = _S_segs(f"{g}.pts")
    total_len = f"nullif(aggregate({segs}, 0.0D, (_ll, _ls) -> _ll + {seglen}), 0.0D)"
    lx = f"(aggregate({segs}, 0.0D, (_ll, _ls) -> _ll + (_ls.a.x + _ls.b.x) / 2 * {seglen}) / {total_len})"
    ly = f"(aggregate({segs}, 0.0D, (_ll, _ls) -> _ll + (_ls.a.y + _ls.b.y) / 2 * {seglen}) / {total_len})"
    # point/multipoint: vertex mean
    n = f"nullif(cast(size({g}.pts) AS DOUBLE), 0.0D)"
    mx = f"(aggregate({g}.pts, 0.0D, (_cm, _cp) -> _cm + _cp.x) / {n})"
    my = f"(aggregate({g}.pts, 0.0D, (_cm, _cp) -> _cm + _cp.y) / {n})"

    def pt(x, y):
        return f"named_struct('x', cast({x} AS DOUBLE), 'y', cast({y} AS DOUBLE))"

    return (
        f"CASE WHEN {g}.kind IN ('polygon', 'multipolygon') THEN {pt(px, py)}"
        f" WHEN {g}.kind = 'linestring' THEN {pt(lx, ly)}"
        f" ELSE {pt(mx, my)} END"
    )


@register("st_centroid")
def st_centroid(g) -> Column:
    """Centroid as a POINT struct: shoelace-weighted for polygons,
    length-weighted for linestrings, vertex mean for (multi)points
    (GeoFunctions.stCentroid)."""
    return _session_fn("centroid", _G, POINT_DDL, lambda: _S_centroid("g"), g)


def _S_contains(g: str, px: str, py: str) -> str:
    return (
        f"({g}.kind IN ('polygon', 'multipolygon')"
        f" AND ({_S_all_crossings(g, px, py)} % 2 = 1))"
    )


@register("st_contains")
def st_contains(g, p) -> Column:
    """Polygon ⊇ point via ray casting over every ring (even-odd parity
    — hole- and multipolygon-aware), entirely in codegen'd array
    expressions — the predicate side of a broadcast spatial join
    (reference SpatialJoinOperator.java builds an R-tree; Spark-first
    the polygon set broadcasts and this filters)."""
    return _session_fn(
        "contains", f"{_G}, p {POINT_DDL}", "boolean",
        lambda: _S_contains("g", "p.x", "p.y"), g, p,
    )


@register("st_within")
def st_within(p, g) -> Column:
    """ST_Within(point, polygon) = ST_Contains(polygon, point)."""
    return st_contains(g, p)


def _S_intersects(a: str, b: str) -> str:
    a_pt = f"{a}.kind IN ('point', 'multipoint')"
    b_pt = f"{b}.kind IN ('point', 'multipoint')"
    seg_hit = (
        f"exists({_S_segs(f'{a}.pts')}, _x1 ->"
        f" exists({_S_segs(f'{b}.pts')}, _x2 -> {_S_seg_intersects('_x1', '_x2')}))"
    )
    a_in_b = _S_contains(b, f"element_at({a}.pts, 1).x", f"element_at({a}.pts, 1).y")
    b_in_a = _S_contains(a, f"element_at({b}.pts, 1).x", f"element_at({b}.pts, 1).y")
    pt_hit = (
        f"exists({a}.pts, _q1 -> exists({b}.pts, _q2 ->"
        f" (_q1.x = _q2.x) AND (_q1.y = _q2.y)))"
    )
    return (
        f"CASE WHEN ({a_pt}) AND ({b_pt}) THEN {pt_hit}"
        f" WHEN {a_pt} THEN exists({a}.pts, _q3 -> {_S_contains(b, '_q3.x', '_q3.y')})"
        f" WHEN {b_pt} THEN exists({b}.pts, _q4 -> {_S_contains(a, '_q4.x', '_q4.y')})"
        f" ELSE ({seg_hit}) OR ({a_in_b}) OR ({b_in_a}) END"
    )


@register("st_intersects")
def st_intersects(g1, g2) -> Column:
    """ST_Intersects for point/linestring/polygon combos: point kinds via
    containment, otherwise any segment-pair intersection or full
    containment of one geometry's first vertex in the other
    (GeoFunctions.stIntersects)."""
    return _session_fn("intersects", _AB, "boolean", lambda: _S_intersects("a", "b"), g1, g2)


@register("st_as_text_geom")
def st_as_text_geom(g) -> Column:
    """GEOM → WKT (general counterpart of the POINT-only st_as_text).
    Polygons emit every ring; multipolygons emit one part per ring
    (holes-in-multipolygon-parts serialize as separate parts —
    documented in the module header)."""
    gg = c(g)
    ring_body = lambda ring: F.array_join(  # noqa: E731
        F.transform(
            ring,
            lambda p: F.concat(
                p.getField("x").cast("string"), F.lit(" "), p.getField("y").cast("string")
            ),
        ),
        ", ",
    )
    body = ring_body(gg.getField("pts"))
    rings_wkt = lambda sep_l, sep_r: F.array_join(  # noqa: E731
        F.transform(
            gg.getField("rings"),
            lambda ring: F.concat(F.lit(sep_l), ring_body(ring), F.lit(sep_r)),
        ),
        ", ",
    )
    kind = gg.getField("kind")
    return (
        F.when(kind == "polygon", F.concat(F.lit("POLYGON ("), rings_wkt("(", ")"), F.lit(")")))
        .when(
            kind == "multipolygon",
            F.concat(F.lit("MULTIPOLYGON ("), rings_wkt("((", "))"), F.lit(")")),
        )
        .when(kind == "linestring", F.concat(F.lit("LINESTRING ("), body, F.lit(")")))
        .when(kind == "multipoint", F.concat(F.lit("MULTIPOINT ("), body, F.lit(")")))
        .otherwise(F.concat(F.lit("POINT ("), body, F.lit(")")))
    )


@register("line_locate_point")
def line_locate_point(line, p) -> Column:
    """Fraction of the line's length at the nearest point to p
    (GeoFunctions.lineLocatePoint) — single aggregate pass carrying
    (best distance², arclength at best projection, cumulative length)."""
    ln, pp = c(line), c(p)
    px, py = pp.getField("x"), pp.getField("y")

    def step(acc, s):
        ax, ay = s.getField("a").getField("x"), s.getField("a").getField("y")
        bx, by = s.getField("b").getField("x"), s.getField("b").getField("y")
        vx, vy = bx - ax, by - ay
        l2 = vx * vx + vy * vy
        t = F.when(l2 > 0, F.greatest(F.lit(0.0), F.least(F.lit(1.0), ((px - ax) * vx + (py - ay) * vy) / l2))).otherwise(F.lit(0.0))
        qx, qy = ax + t * vx, ay + t * vy
        d2 = (px - qx) * (px - qx) + (py - qy) * (py - qy)
        seg = F.sqrt(l2)
        better = d2 < acc.getField("d2")
        return F.struct(
            F.when(better, d2).otherwise(acc.getField("d2")).alias("d2"),
            F.when(better, acc.getField("cum") + t * seg).otherwise(acc.getField("off")).alias("off"),
            (acc.getField("cum") + seg).alias("cum"),
        )

    init = F.struct(
        F.lit(float("inf")).alias("d2"), F.lit(0.0).alias("off"), F.lit(0.0).alias("cum")
    )
    fin = F.aggregate(_segs(ln), init, step)
    return F.when(
        ln.getField("kind") == "linestring",
        fin.getField("off") / F.nullif(fin.getField("cum"), F.lit(0.0)),
    )


@register("st_buffer")
def st_buffer(g, dist, n_sides: int = 32) -> Column:
    """ST_Buffer for POINT geometries: a closed n-gon approximating the
    circle (GeoFunctions.stBuffer; general polygon offsetting needs a
    geometry library — non-point kinds yield NULL, documented)."""
    import math as _m

    gg, r = c(g), lit_or_col(dist)
    ctr = F.element_at(gg.getField("pts"), 1)
    cx, cy = ctr.getField("x"), ctr.getField("y")
    ring = F.array(
        *[
            _pt(
                cx + r * _m.cos(2 * _m.pi * i / n_sides),
                cy + r * _m.sin(2 * _m.pi * i / n_sides),
            )
            for i in range(n_sides)
        ],
        _pt(cx + r * 1.0, cy + r * 0.0),
    )
    return F.when(gg.getField("kind") == "point", _geom("polygon", ring))


def _wn_poly(pt, ring):
    """Winding number of the closed polyline ``ring`` (cyclic, first
    vertex not repeated) around ``pt`` — the standard isLeft crossing
    count."""
    wn = 0
    x, y = pt
    k = len(ring)
    for i in range(k):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % k]
        is_left = (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1)
        if y1 <= y:
            if y2 > y and is_left > 0:
                wn += 1
        elif y2 <= y and is_left < 0:
            wn -= 1
    return wn


def _on_ring_boundary_py(p, body, eps=1e-9):
    """p within eps of any edge of the cyclic vertex list ``body``."""
    k = len(body)
    for i in range(k):
        a, b = body[i], body[(i + 1) % k]
        cross = (b[0] - a[0]) * (p[1] - a[1]) - (p[0] - a[0]) * (b[1] - a[1])
        scale = abs(b[0] - a[0]) + abs(b[1] - a[1]) + 1.0
        if abs(cross) > eps * scale:
            continue
        if (
            min(a[0], b[0]) - eps <= p[0] <= max(a[0], b[0]) + eps
            and min(a[1], b[1]) - eps <= p[1] <= max(a[1], b[1]) + eps
        ):
            return True
    return False


def _loop_contains_py(outer, inner):
    """True if a representative vertex of closed loop ``inner`` lies
    strictly inside closed loop ``outer`` (vertices on the boundary are
    skipped — stitched loops can share crossing points)."""
    body = outer[:-1]
    for p in inner[:-1]:
        if _on_ring_boundary_py(p, body):
            continue
        return _wn_poly(p, body) != 0
    return False


def _seg_x_param(p1, p2, q1, q2, eps=1e-12):
    """Proper-crossing params (t, u) strictly inside both segments, plus
    the crossing point; None otherwise."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    den = rx * sy - ry * sx
    if abs(den) < eps:
        return None
    qx, qy = q1[0] - p1[0], q1[1] - p1[1]
    t = (qx * sy - qy * sx) / den
    u = (qx * ry - qy * rx) / den
    if eps < t < 1 - eps and eps < u < 1 - eps:
        return (t, u, (p1[0] + t * rx, p1[1] + t * ry))
    return None


def _clip_offset_loops(out):
    """Self-intersecting closed offset ring → the boundary rings of its
    NONZERO-WINDING region — the global clipping step that makes
    ST_Buffer exact past the local feature size (round 10; closes the
    round-9 refusal).  The raw offset curve of a CCW source traverses
    spurious loops clockwise, so the nonzero-winding fill IS the true
    dilation region (the stroke-offset identity font rasterizers rely
    on).  Split every segment at proper self-intersections, keep the
    sub-segments whose inner side winds ≠ 0 and outer side winds 0
    (true boundary pieces — spurious pieces have both sides covered),
    then stitch the kept pieces into closed loops; holes (a buffer
    closing over a concavity) fall out as additional loops."""
    import math as _m

    k = len(out)
    cuts = [{0.0, 1.0} for _ in range(k)]
    xpt = {}
    for i in range(k):
        a1, a2 = out[i], out[(i + 1) % k]
        for j in range(i + 2, k):
            if i == 0 and j == k - 1:
                continue  # adjacent through the wraparound
            hit = _seg_x_param(a1, a2, out[j], out[(j + 1) % k])
            if hit:
                t, u, pt = hit
                cuts[i].add(t)
                cuts[j].add(u)
                xpt[(i, t)] = xpt[(j, u)] = pt

    diag = max(
        max(p[0] for p in out) - min(p[0] for p in out),
        max(p[1] for p in out) - min(p[1] for p in out),
        1e-12,
    )
    delta = 1e-7 * diag

    def at(i, t):
        if t == 0.0:
            return out[i]
        if t == 1.0:
            return out[(i + 1) % k]
        return xpt[(i, t)]

    pieces = []
    for i in range(k):
        ts = sorted(cuts[i])
        for a, b in zip(ts, ts[1:]):
            pa, pb = at(i, a), at(i, b)
            dx, dy = pb[0] - pa[0], pb[1] - pa[1]
            ln = _m.hypot(dx, dy)
            if ln < 1e-12:
                continue
            mid = ((pa[0] + pb[0]) / 2, (pa[1] + pb[1]) / 2)
            nx, ny = dy / ln, -dx / ln  # right normal = outward for CCW
            wn_out = _wn_poly((mid[0] + delta * nx, mid[1] + delta * ny), out)
            wn_in = _wn_poly((mid[0] - delta * nx, mid[1] - delta * ny), out)
            if wn_in != 0 and wn_out == 0:
                pieces.append((pa, pb))

    # stitch kept directed pieces into closed loops (endpoints are exact
    # shared floats: crossing points computed once per pair)
    def key(p):
        return (round(p[0], 9), round(p[1], 9))

    starts: dict = {}
    for idx, (pa, pb) in enumerate(pieces):
        starts.setdefault(key(pa), []).append(idx)
    used = [False] * len(pieces)
    loops = []
    for idx in range(len(pieces)):
        if used[idx]:
            continue
        chain = [pieces[idx][0], pieces[idx][1]]
        used[idx] = True
        origin = key(pieces[idx][0])
        guard = 0
        while key(chain[-1]) != origin and guard <= len(pieces):
            guard += 1
            nxts = [c_i for c_i in starts.get(key(chain[-1]), []) if not used[c_i]]
            if not nxts:
                break
            if len(nxts) == 1:
                nxt = nxts[0]
            else:
                # crossing with several kept continuations: take the
                # leftmost turn (max CCW angle) to keep the region on
                # the inner side
                px, py = chain[-2]
                cx, cy = chain[-1]
                din = _m.atan2(cy - py, cx - px)

                def turn(c_idx):
                    qa, qb = pieces[c_idx]
                    ang = _m.atan2(qb[1] - qa[1], qb[0] - qa[0])
                    return (ang - din + _m.pi) % (2 * _m.pi)

                nxt = max(nxts, key=turn)
            chain.append(pieces[nxt][1])
            used[nxt] = True
        if key(chain[-1]) == origin and len(chain) >= 4:
            loops.append(chain[:-1] + [chain[0]])
    return loops


@register("st_buffer_geom")
def st_buffer_geom(g, dist: float, n_sides: int = 32) -> Column:
    """ST_Buffer for line/polygon kinds (GeoFunctions.stBuffer:182) —
    EXACT offset-curve construction, concave inputs included (round 9;
    closes the round-6 refusal).

    The Minkowski-sum boundary of a simple polygon (CCW) with a disc of
    radius d is its offset curve: each edge shifts d along its outward
    normal; a CONVEX vertex joins adjacent offset edges with a circular
    arc (discretized at the same n_sides resolution everyone uses —
    ESRI included); a REFLEX vertex joins them at the miter point
    (the intersection of the two offset edge lines — the true boundary
    while d stays under the local feature size).  A polyline buffers as
    the same construction over its DOUBLED path p0..pk..p1: the 180°
    end caps fall out as ordinary convex arcs, inner bend sides as
    ordinary reflex miters — one code path for both kinds.

    Past the local feature size (round 10): when the constructed offset
    ring self-intersects, the true boundary is recovered by global
    clipping — _clip_offset_loops splits the curve at its proper
    self-intersections, keeps exactly the sub-segments whose inner side
    has nonzero winding and outer side zero (spurious loops are covered
    on both sides), and stitches the survivors into closed loops.
    Interior holes (the dilation closing over a concavity) fall out as
    extra loops; the result is polygon/multipolygon by ring nesting.
    Pandas-UDF tier like ST_ConvexHull, hence the sibling name: the
    UDF-backed column cannot nest inside higher-order-function lambdas,
    so the POINT fast path keeps the fully-native st_buffer spelling."""
    if float(dist) < 0:
        raise ValueError("buffer distance is negative")  # GeoFunctions.stBuffer check

    def _buffer_offset(kind, pts, d, n):
        import math as _m2

        eps = 1e-12
        if kind == "linestring":
            body = [tuple(p) for p in pts]
            body = [p for i, p in enumerate(body) if i == 0 or p != body[i - 1]]
            if len(body) < 2:
                raise NotImplementedError(
                    "ST_Buffer of a degenerate linestring; use st_buffer "
                    "(point fast path) for single points"
                )
            ring = body + body[-2:0:-1]  # doubled path p0..pk, pk-1..p1
        elif kind == "polygon":
            ring = [tuple(p) for p in pts]
            if len(ring) > 1 and ring[0] == ring[-1]:
                ring = ring[:-1]
            a2 = sum(
                x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1])
            )
            if a2 < 0:
                ring.reverse()  # CCW: interior on the left, outward = right
        else:
            raise NotImplementedError(
                f"ST_Buffer of kind {kind!r}; point uses st_buffer"
            )
        m = len(ring)
        out = []
        for i in range(m):
            pr, p, q = ring[(i - 1) % m], ring[i], ring[(i + 1) % m]
            v1 = (p[0] - pr[0], p[1] - pr[1])
            v2 = (q[0] - p[0], q[1] - p[1])
            l1, l2 = _m2.hypot(*v1), _m2.hypot(*v2)
            if l1 < eps or l2 < eps:
                continue  # repeated point
            n1 = (v1[1] / l1, -v1[0] / l1)  # outward (right-hand) normals
            n2 = (v2[1] / l2, -v2[0] / l2)
            cross = v1[0] * v2[1] - v1[1] * v2[0]
            dot = v1[0] * v2[0] + v1[1] * v2[1]
            scale = l1 * l2
            if abs(cross) <= eps * scale and dot > 0:
                out.append((p[0] + d * n1[0], p[1] + d * n1[1]))  # straight
            elif cross > eps * scale or (abs(cross) <= eps * scale and dot <= 0):
                # convex turn (or 180° cap): CCW arc from n1 to n2
                t1 = _m2.atan2(n1[1], n1[0])
                t2 = _m2.atan2(n2[1], n2[0])
                sweep = (t2 - t1) % (2 * _m2.pi)
                if abs(cross) <= eps * scale:
                    sweep = _m2.pi  # exact U-turn cap
                k = max(1, int(_m2.ceil(n * sweep / (2 * _m2.pi))))
                for j in range(k + 1):
                    t = t1 + sweep * j / k
                    out.append((p[0] + d * _m2.cos(t), p[1] + d * _m2.sin(t)))
            else:
                # reflex turn: miter point = intersection of the two
                # offset edge LINES (p+d·n1 + t·v1 == p+d·n2 + s·v2)
                tnum = d * ((n2[0] - n1[0]) * v2[1] - (n2[1] - n1[1]) * v2[0])
                t = tnum / cross
                out.append((p[0] + d * n1[0] + t * v1[0],
                            p[1] + d * n1[1] + t * v1[1]))
        # simplicity check: if the offset ring self-intersects (d at or
        # past the local feature size), run the global clipping step —
        # nonzero-winding split/filter/stitch (_clip_offset_loops) — and
        # return the true boundary, holes included (round 10; was the
        # round-9 fail-loud refusal)
        k = len(out)

        def _proper_x(a, b, cc, dd):
            def orient(o, x, y):
                return (x[0] - o[0]) * (y[1] - o[1]) - (x[1] - o[1]) * (y[0] - o[0])

            d1, d2 = orient(cc, dd, a), orient(cc, dd, b)
            d3, d4 = orient(a, b, cc), orient(a, b, dd)
            return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0))

        # _seg_params (geo_setops) classifies EVERY contact kind, not
        # just transversal crossings: a tangential touch or collinear
        # overlap between non-adjacent offset segments (e.g. opposite
        # offset walls coinciding at d = exactly half a slot width) is
        # also a simplicity violation — _clip_offset_loops can only
        # split at proper crossings, so those configurations stay
        # fail-loud instead of returning a self-overlapping "polygon"
        # whose parity-based st_area would be silently wrong
        from prestodb_presto_spark.functions.geo_setops import _seg_params

        selfx = False
        touch_overlap = False
        for i in range(k):
            a, b = out[i], out[(i + 1) % k]
            for j in range(i + 2, k):
                if i == 0 and j == k - 1:
                    continue  # adjacent through the wraparound
                if _proper_x(a, b, out[j], out[(j + 1) % k]):
                    selfx = True
                else:
                    kind, _data = _seg_params(a, b, out[j], out[(j + 1) % k])
                    if kind != "none":
                        touch_overlap = True
        if touch_overlap:
            raise NotImplementedError(
                "ST_Buffer offset curve self-touches tangentially or "
                "overlaps collinearly (buffer distance at a degenerate "
                "feature width); only transversally self-crossing "
                "offsets are clippable"
            )
        if not selfx:
            return "polygon", out + [out[0]]
        loops = _clip_offset_loops(out)
        if not loops:
            raise NotImplementedError(
                "ST_Buffer offset clipping produced no closed boundary "
                "(degenerate input past the supported envelope)"
            )
        # exterior = largest-area loop first; holes/extra parts follow
        loops.sort(
            key=lambda r: abs(
                sum(
                    x1 * y2 - x2 * y1
                    for (x1, y1), (x2, y2) in zip(r, r[1:])
                )
            ),
            reverse=True,
        )
        outers = sum(
            1
            for r in loops
            if not any(o is not r and _loop_contains_py(o, r) for o in loops)
        )
        kind = "multipolygon" if outers > 1 else "polygon"
        return kind, loops[0], loops

    return _geom_pandas(_buffer_offset, extra=(float(dist), int(n_sides)))(c(g))


def _S_self_intersects(g: str) -> str:
    """Two non-adjacent segments of the primary ring intersect (the
    closing segment may touch the first one)."""
    pts, n = f"{g}.pts", f"size({g}.pts)"
    closed = (
        f"((element_at({pts}, 1).x = element_at({pts}, -1).x)"
        f" AND (element_at({pts}, 1).y = element_at({pts}, -1).y))"
    )
    s1 = f"named_struct('a', element_at({pts}, _si), 'b', element_at({pts}, _si + 1))"
    s2 = f"named_struct('a', element_at({pts}, _sj), 'b', element_at({pts}, _sj + 1))"
    return (
        f"exists(sequence(1, {n} - 1), _si -> exists(sequence(1, {n} - 1), _sj ->"
        f" (_sj > _si + 1) AND NOT ((_si = 1) AND (_sj = {n} - 1) AND {closed})"
        f" AND {_S_seg_intersects(s1, s2)}))"
    )


def _self_intersects(g: Column) -> Column:
    return _session_fn(
        "self_intersects", _G, "boolean", lambda: _S_self_intersects("g"), g
    )


@register("geometry_invalid_reason")
def geometry_invalid_reason(g) -> Column:
    """NULL when valid; else a reason string (GeoFunctions /
    GeometryUtils.geometryInvalidReason subset: ring arity, closure,
    non-adjacent self-intersection)."""
    gg = c(g)
    pts = gg.getField("pts")
    n = F.size(pts)
    rings = gg.getField("rings")
    ring_closed = lambda ring: (  # noqa: E731
        F.element_at(ring, 1).getField("x") == F.element_at(ring, -1).getField("x")
    ) & (F.element_at(ring, 1).getField("y") == F.element_at(ring, -1).getField("y"))
    any_short = F.exists(rings, lambda ring: F.size(ring) < 4)
    any_open = F.exists(rings, lambda ring: ~ring_closed(ring))
    return F.when(
        gg.getField("kind").isin("polygon", "multipolygon"),
        F.when(pts.isNull(), "Polygon has no rings")
        .when(any_short, "Polygon has fewer than 4 points")
        .when(any_open, "Polygon ring is not closed")
        .when(_self_intersects(gg), "Polygon ring self-intersects")  # exterior-ring check
        .otherwise(F.lit(None).cast("string")),
    ).otherwise(
        F.when(
            (gg.getField("kind") == "linestring") & (n < 2),
            "LineString has fewer than 2 points",
        )
    )


@register("st_num_geometries")
def st_num_geometries(g) -> Column:
    """Component count: each multipoint vertex / multipolygon ring is a
    component; other kinds are single (GeoFunctions.stNumGeometries)."""
    gg = c(g)
    return (
        F.when(gg.getField("kind") == "multipoint", F.size(gg.getField("pts")))
        .when(gg.getField("kind") == "multipolygon", F.size(gg.getField("rings")))
        .otherwise(F.when(F.size(gg.getField("pts")) > 0, 1).otherwise(0))
        .cast("int")
    )


@register("st_geometry_n")
def st_geometry_n(g, n) -> Column:
    """1-based component access (GeoFunctions.stGeometryN): multipoint →
    the n-th vertex as a POINT geom; multipolygon → the n-th ring as a
    POLYGON; other kinds → the geometry itself for n=1, NULL otherwise."""
    gg = c(g)
    idx = lit_or_col(n)
    nth_point = _geom("point", F.array(F.element_at(gg.getField("pts"), idx)))
    nth_poly = _geom("polygon", F.element_at(gg.getField("rings"), idx))
    return (
        F.when(gg.getField("kind") == "multipoint", nth_point)
        .when(gg.getField("kind") == "multipolygon", nth_poly)
        .when(idx == 1, gg)
    )


@register("st_geometries")
def st_geometries(g) -> Column:
    """All components as an array of GEOMs (GeoFunctions.stGeometries)."""
    gg = c(g)
    as_points = F.transform(
        gg.getField("pts"), lambda p: _geom("point", F.array(p))
    )
    as_polys = F.transform(
        gg.getField("rings"), lambda ring: _geom("polygon", ring)
    )
    return (
        F.when(gg.getField("kind") == "multipoint", as_points)
        .when(gg.getField("kind") == "multipolygon", as_polys)
        .otherwise(F.array(gg))
    )


@register("st_boundary")
def st_boundary(g) -> Column:
    """Topological boundary (GeoFunctions.stBoundary): polygon → its
    exterior ring as a linestring; linestring → multipoint of endpoints
    (empty when closed); points → empty multipoint."""
    gg = c(g)
    pts = gg.getField("pts")
    kind = gg.getField("kind")
    first, last = F.element_at(pts, 1), F.element_at(pts, -1)
    closed = (first.getField("x") == last.getField("x")) & (
        first.getField("y") == last.getField("y")
    )
    empty = F.array().cast(f"array<{POINT_DDL}>")
    line_boundary = F.when(closed, empty).otherwise(F.array(first, last))
    return (
        F.when(kind == "polygon", _geom("linestring", pts))
        .when(kind == "linestring", _geom("multipoint", line_boundary))
        .otherwise(_geom("multipoint", empty))
    )


@register("st_disjoint")
def st_disjoint(g1, g2) -> Column:
    """ST_Disjoint = NOT ST_Intersects (GeoFunctions.stDisjoint)."""
    return ~st_intersects(g1, g2)


def _geom_pandas(fn, extra=()):
    """Wrap a numpy point-array transform as a GEOM→GEOM pandas UDF —
    the 'pandas UDF last resort' tier (SURVEY §7): geometry algorithms
    that are iterative by nature (hull scan, Douglas-Peucker) and sit
    OFF the relational hot path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(GEOM_DDL)
    def _f(s):
        import pandas as pd

        # struct columns cross the Arrow boundary as a pd.DataFrame with
        # one column per field (and must be returned the same way)
        kinds, ptss, ringss = [], [], []
        for _, g in s.iterrows():
            if g["pts"] is None:
                kinds.append(None)
                ptss.append(None)
                ringss.append(None)
                continue
            pts = [(p["x"], p["y"]) for p in g["pts"]]
            res = fn(g["kind"], pts, *extra)
            if len(res) == 3:  # multi-ring result (kind, exterior, rings)
                kind, new_pts, rings = res
            else:
                kind, new_pts = res
                rings = [new_pts]
            out = [{"x": float(x), "y": float(y)} for x, y in new_pts]
            kinds.append(kind)
            ptss.append(out)
            ringss.append(
                [[{"x": float(x), "y": float(y)} for x, y in r] for r in rings]
            )
        return pd.DataFrame({"kind": kinds, "pts": ptss, "rings": ringss})

    return _f


def _convex_hull(kind, pts):
    """Andrew's monotone chain; returns a closed polygon ring."""
    uniq = sorted(set(pts))
    if len(uniq) <= 2:
        return ("linestring" if len(uniq) == 2 else "point", uniq)

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower, upper = [], []
    for p in uniq:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(uniq):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ring = lower[:-1] + upper[:-1]
    return "polygon", ring + [ring[0]]


def _douglas_peucker(kind, pts, tolerance):
    if len(pts) < 3:
        return kind, pts

    def dp(seq):
        if len(seq) < 3:
            return seq
        (ax, ay), (bx, by) = seq[0], seq[-1]
        dx, dy = bx - ax, by - ay
        norm = (dx * dx + dy * dy) ** 0.5 or 1e-300
        best_i, best_d = 0, -1.0
        for i in range(1, len(seq) - 1):
            px, py = seq[i]
            d = abs(dx * (ay - py) - dy * (ax - px)) / norm
            if d > best_d:
                best_i, best_d = i, d
        if best_d <= tolerance:
            return [seq[0], seq[-1]]
        left = dp(seq[: best_i + 1])
        return left[:-1] + dp(seq[best_i:])

    return kind, dp(pts)


@register("st_convex_hull")
def st_convex_hull(g) -> Column:
    """ST_ConvexHull (GeoFunctions.stConvexHull) — monotone-chain hull as
    a pandas UDF (iterative scan; off the relational path)."""
    return _geom_pandas(_convex_hull)(c(g))


@register("simplify_geometry")
def simplify_geometry(g, tolerance: float) -> Column:
    """simplify_geometry(geom, tolerance) (GeoFunctions.simplifyGeometry)
    — Douglas-Peucker with perpendicular-distance tolerance."""
    return _geom_pandas(_douglas_peucker, extra=(float(tolerance),))(c(g))


@register("st_exterior_ring")
def st_exterior_ring(g) -> Column:
    """Polygon exterior ring as a linestring (GeoFunctions.stExteriorRing)."""
    gg = c(g)
    return F.when(gg.getField("kind") == "polygon", _geom("linestring", gg.getField("pts")))


@register("st_num_interior_ring")
def st_num_interior_ring(g) -> Column:
    """Interior-ring count = rings beyond the exterior
    (GeoFunctions.stNumInteriorRing; NULL for non-polygons, matching
    the reference's polygon-only signature)."""
    gg = c(g)
    return F.when(
        gg.getField("kind") == "polygon", F.size(gg.getField("rings")) - 1
    ).cast("int")


@register("st_interior_rings")
def st_interior_rings(g) -> Column:
    """Interior rings as linestring GEOMs (GeoFunctions.stInteriorRings)."""
    gg = c(g)
    rings = gg.getField("rings")
    inner = F.slice(rings, 2, F.greatest(F.size(rings) - 1, F.lit(0)))
    return F.when(
        gg.getField("kind") == "polygon",
        F.transform(inner, lambda ring: _geom("linestring", ring)),
    )


@register("st_interior_ring_n")
def st_interior_ring_n(g, n) -> Column:
    """N-th (1-based) interior ring (GeoFunctions.stInteriorRingN);
    try_element_at because ANSI element_at errors past the end."""
    return F.try_element_at(st_interior_rings(g), lit_or_col(n))


@register("st_envelope_as_pts")
def st_envelope_as_pts(g) -> Column:
    """[min-corner, max-corner] points (GeoFunctions.stEnvelopeAsPts)."""
    return F.array(_pt(st_xmin(g), st_ymin(g)), _pt(st_xmax(g), st_ymax(g)))


@register("st_is_valid")
def st_is_valid(g) -> Column:
    """ST_IsValid = geometry_invalid_reason IS NULL."""
    return geometry_invalid_reason(g).isNull()


@register("st_is_simple")
def st_is_simple(g) -> Column:
    """No non-adjacent self-intersection (points are always simple;
    GeoFunctions.stIsSimple — ring-closure intersection excused)."""
    gg = c(g)
    return F.when(gg.getField("kind").isin("point", "multipoint"), F.lit(True)).otherwise(
        ~F.coalesce(_self_intersects(gg), F.lit(False))
    )


@register("st_equals")
def st_equals(g1, g2) -> Column:
    """Vertex-multiset equality of same-kind geometries — covers ring
    rotation/direction (the common ST_Equals uses); full topological
    equality (collinear vertex insertion) needs a geometry library,
    documented deviation from GeoFunctions.stEquals."""
    a, b = c(g1), c(g2)
    # distinct first: a ring's closing vertex duplicates a DIFFERENT
    # vertex depending on where the rotation starts
    canon = lambda g: F.array_sort(  # noqa: E731
        F.array_distinct(
            F.transform(
                F.flatten(g.getField("rings")),  # every ring's vertices
                lambda p: F.struct(p.getField("x").alias("x"), p.getField("y").alias("y")),
            )
        )
    )
    return (a.getField("kind") == b.getField("kind")) & (canon(a) == canon(b))


# --- topological predicates (GeoFunctions.java stCrosses:869, stOverlaps:926,
# --- stTouches:953) — native expressions over ring segments -----------------


def _S_interiors_intersect(a: str, b: str) -> str:
    """dim-aware interior∩interior ≠ ∅ test from vertex probes + segment
    crossings (exact for the generic-position shapes the engine models)."""
    a_poly = f"{a}.kind IN ('polygon', 'multipolygon')"
    b_poly = f"{b}.kind IN ('polygon', 'multipolygon')"
    a_line, b_line = f"{a}.kind = 'linestring'", f"{b}.kind = 'linestring'"
    a_pt = f"{a}.kind IN ('point', 'multipoint')"
    b_pt = f"{b}.kind IN ('point', 'multipoint')"

    def vertex_in(g, other):
        return (
            f"exists(flatten({g}.rings), _v1 -> {_S_strictly_inside(other, '_v1')})"
        )

    same_pt = (
        f"exists({a}.pts, _q1 -> exists({b}.pts, _q2 ->"
        f" (_q1.x = _q2.x) AND (_q1.y = _q2.y)))"
    )
    pc = _S_proper_cross_any(a, b)
    via, vib = vertex_in(a, b), vertex_in(b, a)

    def pt_on_line_interior(pts_g, line_g):
        return (
            f"exists({pts_g}.pts, _q5 -> ({_S_on_boundary(line_g, '_q5')})"
            f" AND NOT ((_q5.x = element_at({line_g}.pts, 1).x)"
            f" AND (_q5.y = element_at({line_g}.pts, 1).y))"
            f" AND NOT ((_q5.x = element_at({line_g}.pts, -1).x)"
            f" AND (_q5.y = element_at({line_g}.pts, -1).y)))"
        )

    return (
        f"CASE WHEN ({a_poly}) AND ({b_poly}) THEN ({pc}) OR ({via}) OR ({vib})"
        f" WHEN ({a_line}) AND ({b_poly}) THEN ({pc}) OR ({via})"
        f" WHEN ({b_line}) AND ({a_poly}) THEN ({pc}) OR ({vib})"
        f" WHEN ({a_line}) AND ({b_line}) THEN ({pc}) OR ({_S_collinear_overlap_any(a, b)})"
        f" WHEN ({a_pt}) AND ({b_poly}) THEN {via}"
        f" WHEN ({b_pt}) AND ({a_poly}) THEN {vib}"
        f" WHEN ({a_pt}) AND ({b_line}) THEN {pt_on_line_interior(a, b)}"
        f" WHEN ({b_pt}) AND ({a_line}) THEN {pt_on_line_interior(b, a)}"
        f" ELSE {same_pt} END"
    )


def _S_crosses(a: str, b: str) -> str:
    a_line, b_line = f"{a}.kind = 'linestring'", f"{b}.kind = 'linestring'"
    a_poly = f"{a}.kind IN ('polygon', 'multipolygon')"
    b_poly = f"{b}.kind IN ('polygon', 'multipolygon')"
    pc = _S_proper_cross_any(a, b)

    def vsi(g, other):
        return f"exists({g}.pts, _w1 -> {_S_strictly_inside(other, '_w1')})"

    def vso(g, other):
        return f"exists({g}.pts, _w2 -> {_S_strictly_outside(other, '_w2')})"

    def line_x_poly(line, poly):
        # in-and-out via vertices, or a pass-through between two outside
        # vertices (proper crossing of the boundary)
        return (
            f"(({vsi(line, poly)}) AND ({vso(line, poly)}))"
            f" OR (({pc}) AND ({vso(line, poly)}))"
        )

    def mp_cross(mp, other):  # some point interior, some exterior
        return (
            f"exists({mp}.pts, _w3 -> ({_S_strictly_inside(other, '_w3')})"
            f" OR ({_S_on_boundary(other, '_w3')}))"
            f" AND exists({mp}.pts, _w4 -> {_S_strictly_outside(other, '_w4')})"
        )

    return (
        f"CASE WHEN ({a_line}) AND ({b_line}) THEN"
        f" ({pc}) AND NOT ({_S_collinear_overlap_any(a, b)})"
        f" WHEN ({a_line}) AND ({b_poly}) THEN {line_x_poly(a, b)}"
        f" WHEN ({b_line}) AND ({a_poly}) THEN {line_x_poly(b, a)}"
        f" WHEN ({a}.kind = 'multipoint') AND (({b_line}) OR ({b_poly}))"
        f" THEN {mp_cross(a, b)}"
        f" WHEN ({b}.kind = 'multipoint') AND (({a_line}) OR ({a_poly}))"
        f" THEN {mp_cross(b, a)}"
        f" ELSE false END"
    )


@register("st_crosses")
def st_crosses(g1, g2) -> Column:
    """ST_Crosses (GeoFunctions.stCrosses): interiors share a point of
    LOWER dimension than max(dim a, dim b) — line transversally crossing
    a line (at a point) or a polygon (entering and leaving)."""
    return _session_fn("crosses", _AB, "boolean", lambda: _S_crosses("a", "b"), g1, g2)


def _S_overlaps(a: str, b: str) -> str:
    def dim(g):
        return (
            f"CAST(CASE WHEN {g}.kind IN ('point', 'multipoint') THEN 0"
            f" WHEN {g}.kind = 'linestring' THEN 1 ELSE 2 END AS INT)"
        )

    pc = _S_proper_cross_any(a, b)

    def covers(g, other):
        return (
            f"(NOT exists(flatten({other}.rings), _w5 ->"
            f" {_S_strictly_outside(g, '_w5')})) AND NOT ({pc})"
        )

    return (
        f"({dim(a)} = {dim(b)}) AND ({_S_interiors_intersect(a, b)})"
        f" AND NOT ({covers(a, b)}) AND NOT ({covers(b, a)})"
    )


@register("st_overlaps")
def st_overlaps(g1, g2) -> Column:
    """ST_Overlaps (GeoFunctions.stOverlaps): same dimension, interiors
    intersect, neither geometry covers the other."""
    return _session_fn("overlaps", _AB, "boolean", lambda: _S_overlaps("a", "b"), g1, g2)


@register("st_touches")
def st_touches(g1, g2) -> Column:
    """ST_Touches (GeoFunctions.stTouches): geometries intersect but
    their interiors don't — contact only along boundaries."""
    return _session_fn(
        "touches", _AB, "boolean",
        lambda: f"({_S_intersects('a', 'b')}) AND NOT ({_S_interiors_intersect('a', 'b')})",
        g1, g2,
    )


def _S_distance(a: str, b: str) -> str:
    def pt_seg_d2(p, s):
        vx, vy = f"({s}.b.x - {s}.a.x)", f"({s}.b.y - {s}.a.y)"
        l2 = f"({vx} * {vx} + {vy} * {vy})"
        tt = (
            f"(CASE WHEN {l2} > 0 THEN greatest(0.0D, least(1.0D,"
            f" (({p}.x - {s}.a.x) * {vx} + ({p}.y - {s}.a.y) * {vy}) / {l2}))"
            f" ELSE 0.0D END)"
        )
        qx, qy = f"({s}.a.x + {tt} * {vx})", f"({s}.a.y + {tt} * {vy})"
        return f"(({p}.x - {qx}) * ({p}.x - {qx}) + ({p}.y - {qy}) * ({p}.y - {qy}))"

    def min_vert_to_segs(g, other):
        verts = f"flatten({g}.rings)"
        per_vertex = (
            f"transform({verts}, _dp -> array_min(transform({_S_all_segs(other)},"
            f" _ds -> {pt_seg_d2('_dp', '_ds')})))"
        )
        # degenerate single-vertex geometries have no segments: fall back
        # to vertex-to-vertex distance
        vv = (
            f"array_min(transform({verts}, _dp -> array_min(transform(flatten({other}.rings),"
            f" _dq -> (_dp.x - _dq.x) * (_dp.x - _dq.x) + (_dp.y - _dq.y) * (_dp.y - _dq.y)))))"
        )
        return f"coalesce(array_min({per_vertex}), {vv})"

    return (
        f"CASE WHEN {_S_intersects(a, b)} THEN 0.0D"
        f" ELSE sqrt(least({min_vert_to_segs(a, b)}, {min_vert_to_segs(b, a)})) END"
    )


@register("st_distance_geom")
def st_distance_geom(g1, g2) -> Column:
    """General geometry-to-geometry minimum distance
    (GeoFunctions.stDistance over arbitrary kinds; the registered
    st_distance keeps the bare-POINT fast path — Spark Columns carry no
    static type, so the two representations get two spellings).  0 when
    the geometries intersect; otherwise the min over vertex-to-segment
    projections in both directions — all codegen'd array expressions."""
    return _session_fn(
        "distance_geom", _AB, "double", lambda: _S_distance("a", "b"), g1, g2
    )


def _S_relate(a: str, b: str, pat: str) -> str:
    """AND of the DE-9IM cells a T/F/* pattern constrains, each cell a
    boolean from the interior/boundary primitives."""
    pc = _S_proper_cross_any(a, b)
    bb = (
        f"exists({_S_all_segs(a)}, _z1 -> exists({_S_all_segs(b)}, _z2 ->"
        f" {_S_seg_intersects('_z1', '_z2')}))"
    )
    out_a = f"exists(flatten({a}.rings), _z3 -> {_S_strictly_outside(b, '_z3')})"
    out_b = f"exists(flatten({b}.rings), _z4 -> {_S_strictly_outside(a, '_z4')})"
    bi = f"(exists(flatten({a}.rings), _z5 -> {_S_strictly_inside(b, '_z5')})) OR ({pc})"
    ib = f"(exists(flatten({b}.rings), _z6 -> {_S_strictly_inside(a, '_z6')})) OR ({pc})"
    cells = [
        _S_interiors_intersect(a, b),  # II
        ib,                            # IB: A's interior meets B's boundary (≈ symmetric probe)
        f"({out_a}) OR ({pc})",        # IE: A's interior escapes B
        bi,                            # BI
        bb,                            # BB
        out_a,                         # BE: A's boundary reaches B's exterior
        f"({out_b}) OR ({pc})",        # EI
        out_b,                         # EB
        "true",                        # EE: exteriors always meet (plane is unbounded)
    ]
    conj = [
        f"({cell})" if ch == "T" else f"(NOT ({cell}))"
        for ch, cell in zip(pat, cells)
        if ch in "TF"
    ]
    return " AND ".join(conj) if conj else "true"


@register("st_relate")
def st_relate(g1, g2, pattern: str) -> Column:
    """ST_Relate(a, b, 'T*F**F***') (GeoFunctions.stRelate) — DE-9IM:
    T/F/* pattern positions evaluate natively, with each matrix cell
    derived as a boolean from the engine's interior/boundary
    primitives.  Dimension digits (0/1/2) require exact intersection
    DIMENSIONS — computed exactly for EVERY supported kind pair
    (round 10): areal ring sets (simple, holed, MULTIPOLYGON — interior
    areas via even-odd inclusion-exclusion over pairwise
    Greiner–Hormann clips, boundary dims via ring-set
    split-at-intersections midpoint classification), LINESTRINGs and
    (MULTI)POINTs in all combinations (geo_setops.de9im_matrix_general,
    OGC boundary conventions; 14 canonical matrices pinned).  (Every
    ST_Relate pattern in the reference's own tests —
    TestGeoFunctions.java:689 — is T/F/* only.)"""
    pat = pattern.upper()
    if len(pat) != 9:
        raise ValueError("DE-9IM pattern must have 9 characters")
    if any(ch in "012" for ch in pat):
        from prestodb_presto_spark.functions.geo_setops import relate_exact

        return relate_exact(pat)(c(g1), c(g2))
    # one session function per pattern; positions other than T/F match anything
    key = "".join(ch.lower() if ch in "TF" else "x" for ch in pat)
    return _session_fn(
        f"relate_{key}", _AB, "boolean", lambda: _S_relate("a", "b", pat), g1, g2
    )
