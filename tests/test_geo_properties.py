"""Randomized invariants for the geometry boolean set operations.

The Greiner–Hormann clipping tier (functions/geo_setops.py) must obey
inclusion–exclusion: for any polygons A, B

    area(A ∪ B) + area(A ∩ B) = area(A) + area(B)
    area(A \\ B)               = area(A) − area(A ∩ B)
    area(A △ B)               = area(A ∪ B) − area(A ∩ B)

and the predicates must agree with the constructions
(ST_Intersects(A,B) ⇔ area/points of A ∩ B non-empty for overlapping
interiors).  120 seeded random convex-polygon pairs, one Spark job —
far more shape diversity than the fixture tests, no per-example
round-trips (reference: GeoFunctions.java stUnion:521,
stIntersection:807, stDifference:771, stSymmetricDifference:842).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import presto as P


def _random_convex_wkt(rng: random.Random) -> str:
    """Convex polygon: points on an ellipse at sorted random angles."""
    cx, cy = rng.uniform(-3, 3), rng.uniform(-3, 3)
    rx, ry = rng.uniform(0.5, 4), rng.uniform(0.5, 4)
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(rng.randint(3, 9)))
    pts = [(cx + rx * math.cos(a), cy + ry * math.sin(a)) for a in angles]
    pts.append(pts[0])
    body = ", ".join(f"{x:.4f} {y:.4f}" for x, y in pts)
    return f"POLYGON (({body}))"


def test_setop_area_inclusion_exclusion(spark):
    rng = random.Random(20260813)
    rows = [(i, _random_convex_wkt(rng), _random_convex_wkt(rng)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, wa string, wb string")
    # three projections: parse, clip (pandas-UDF tier), measure — UDF
    # columns cannot nest inside higher-order-function lambdas, and
    # CollapseProject cannot cross the ArrowEvalPython node
    geoms = df.select(
        "id",
        P.st_geom_from_text(F.col("wa")).alias("a"),
        P.st_geom_from_text(F.col("wb")).alias("b"),
    )
    clipped = geoms.select(
        "id", "a", "b",
        P.st_union("a", "b").alias("u"),
        P.st_intersection("a", "b").alias("i"),
        P.st_difference("a", "b").alias("d"),
        P.st_sym_difference("a", "b").alias("s"),
    )
    out = clipped.select(
        "id",
        P.st_area("a").alias("area_a"),
        P.st_area("b").alias("area_b"),
        P.st_area("u").alias("area_u"),
        P.st_area("i").alias("area_i"),
        P.st_area("d").alias("area_d"),
        P.st_area("s").alias("area_s"),
        P.st_intersects("a", "b").alias("touches"),
    ).collect()
    assert len(out) == 120
    overlapping = 0
    for r in out:
        tol = 1e-6 * max(1.0, r.area_a + r.area_b)
        assert abs((r.area_u + r.area_i) - (r.area_a + r.area_b)) < tol, r
        assert abs(r.area_d - (r.area_a - r.area_i)) < tol, r
        assert abs(r.area_s - (r.area_u - r.area_i)) < tol, r
        assert r.area_i >= -tol and r.area_u <= r.area_a + r.area_b + tol
        if r.area_i > tol:
            overlapping += 1
            assert r.touches, r
    # the seed must actually exercise the overlap branch
    assert overlapping >= 8


def test_setop_membership_consistency(spark):
    """The clipped geometry itself (not just its area) must be the
    boolean region: for random probe points p,
        p ∈ A∪B ⇔ p∈A or p∈B,   p ∈ A∩B ⇔ p∈A and p∈B,
        p ∈ A∖B ⇔ p∈A and p∉B
    (even-odd ring parity on the non-convex results).  Probes landing
    within 1e-9 of a boundary are excluded by construction probability."""
    rng = random.Random(97)
    rows = []
    for i in range(30):
        wa, wb = _random_convex_wkt(rng), _random_convex_wkt(rng)
        for j in range(8):
            rows.append((i, wa, wb, rng.uniform(-7, 7), rng.uniform(-7, 7)))
    df = spark.createDataFrame(rows, "id long, wa string, wb string, px double, py double")
    geoms = df.select(
        "id", "px", "py",
        P.st_geom_from_text(F.col("wa")).alias("a"),
        P.st_geom_from_text(F.col("wb")).alias("b"),
    )
    clipped = geoms.select(
        "id", "px", "py", "a", "b",
        P.st_union("a", "b").alias("u"),
        P.st_intersection("a", "b").alias("i"),
        P.st_difference("a", "b").alias("d"),
    )
    pt = P.st_point(F.col("px"), F.col("py"))
    out = clipped.select(
        P.st_contains("a", pt).alias("in_a"),
        P.st_contains("b", pt).alias("in_b"),
        P.st_contains("u", pt).alias("in_u"),
        P.st_contains("i", pt).alias("in_i"),
        P.st_contains("d", pt).alias("in_d"),
    ).collect()
    assert len(out) == 240
    for r in out:
        assert r.in_u == (r.in_a or r.in_b), r
        assert r.in_i == (r.in_a and r.in_b), r
        assert r.in_d == (r.in_a and not r.in_b), r


def test_distance_geom_properties(spark):
    """st_distance_geom: symmetric, 0 ⇔ intersecting, and equal to the
    brute-force min over segment-pair distances computed in Python."""
    rng = random.Random(1234)
    rows = [(i, _random_convex_wkt(rng), _random_convex_wkt(rng)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, wa string, wb string")
    geoms = df.select(
        "id",
        P.st_geom_from_text(F.col("wa")).alias("a"),
        P.st_geom_from_text(F.col("wb")).alias("b"),
    )
    out = geoms.select(
        "id",
        P.st_distance_geom("a", "b").alias("dab"),
        P.st_distance_geom("b", "a").alias("dba"),
        P.st_intersects("a", "b").alias("hits"),
    ).collect()

    def parse(w):
        body = w[w.index("((") + 2 : w.index("))")]
        return [tuple(map(float, p.split())) for p in body.split(",")]

    def seg_pt_d(p, a, b):
        vx, vy = b[0] - a[0], b[1] - a[1]
        l2 = vx * vx + vy * vy
        t = 0.0 if l2 == 0 else max(0.0, min(1.0, ((p[0] - a[0]) * vx + (p[1] - a[1]) * vy) / l2))
        qx, qy = a[0] + t * vx, a[1] + t * vy
        return math.hypot(p[0] - qx, p[1] - qy)

    def brute(A, B):
        best = float("inf")
        for ring, other in ((A, B), (B, A)):
            segs = list(zip(other, other[1:]))
            for p in ring:
                for a, b in segs:
                    best = min(best, seg_pt_d(p, a, b))
        return best

    by_id = {i: (parse(wa), parse(wb)) for i, wa, wb in rows}
    for r in out:
        assert r.dab == r.dba, r
        A, B = by_id[r.id]
        if r.hits:
            assert r.dab == 0.0, r
        else:
            assert abs(r.dab - brute(A, B)) < 1e-9, r


def _random_holed_wkt(rng: random.Random) -> tuple[str, float, float]:
    """Polygon with one hole = outer ellipse ring + the same ring scaled
    by 0.4 about the centroid (reversed); returns (wkt, outer, hole)
    shoelace areas computed independently in Python."""
    cx, cy = rng.uniform(-3, 3), rng.uniform(-3, 3)
    rx, ry = rng.uniform(1.0, 4), rng.uniform(1.0, 4)
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(rng.randint(4, 9)))
    outer = [(round(cx + rx * math.cos(a), 4), round(cy + ry * math.sin(a), 4)) for a in angles]
    # scale about the VERTEX centroid — interior of a convex polygon by
    # construction (the ellipse center is outside when angles span < pi)
    gx = sum(x for x, _ in outer) / len(outer)
    gy = sum(y for _, y in outer) / len(outer)
    hole = [(round(gx + 0.4 * (x - gx), 4), round(gy + 0.4 * (y - gy), 4)) for x, y in reversed(outer)]

    def shoelace(ring):
        s = 0.0
        closed = ring + [ring[0]]
        for (x1, y1), (x2, y2) in zip(closed, closed[1:]):
            s += x1 * y2 - x2 * y1
        return abs(s) / 2

    def ringtxt(r):
        pts = r + [r[0]]
        return "(" + ", ".join(f"{x:.4f} {y:.4f}" for x, y in pts) + ")"

    def cent(ring):
        closed = ring + [ring[0]]
        a2 = cx_ = cy_ = 0.0
        for (x1, y1), (x2, y2) in zip(closed, closed[1:]):
            cr = x1 * y2 - x2 * y1
            a2 += cr
            cx_ += (x1 + x2) * cr
            cy_ += (y1 + y2) * cr
        return cx_ / (3 * a2), cy_ / (3 * a2)

    ao, ah = shoelace(outer), shoelace(hole)
    co, ch = cent(outer), cent(hole)
    ex = (co[0] * ao - ch[0] * ah) / (ao - ah)
    ey = (co[1] * ao - ch[1] * ah) / (ao - ah)
    wkt = f"POLYGON ({ringtxt(outer)}, {ringtxt(hole)})"
    # probe points: hole interior (NOT contained), annulus (contained)
    hx, hy = cent(hole)
    mx, my = [(0.7 * o + 0.3 * h) for o, h in zip(outer[0], (gx, gy))]
    return wkt, ao, ah, ex, ey, hx, hy, mx, my


def test_holed_polygon_area_and_roundtrip(spark):
    """Multi-ring model: area = outer − hole; WKT → geometry → WKT → 
    geometry is area/ring-count stable; centroid point is NOT contained
    (it sits in the hole)."""
    rng = random.Random(55)
    rows = []
    for i in range(40):
        rows.append((i, *_random_holed_wkt(rng)))
    df = spark.createDataFrame(
        rows,
        "id long, wkt string, ao double, ah double, ex double, ey double,"
        " hx double, hy double, mx double, my double",
    )
    g = df.select(
        "id", "ao", "ah", "ex", "ey", "hx", "hy", "mx", "my",
        P.st_geom_from_text(F.col("wkt")).alias("g"),
    )
    out = g.select(
        "id", "ao", "ah", "ex", "ey",
        P.st_area("g").alias("area"),
        P.st_num_interior_ring("g").alias("nholes"),
        P.st_area(P.st_geom_from_text(P.st_as_text_geom("g"))).alias("area_rt"),
        P.st_x(P.st_centroid("g")).alias("cx"),
        P.st_y(P.st_centroid("g")).alias("cy"),
        P.st_contains("g", P.st_point(F.col("hx"), F.col("hy"))).alias("in_hole"),
        P.st_contains("g", P.st_point(F.col("mx"), F.col("my"))).alias("in_annulus"),
    ).collect()
    assert len(out) == 40
    for r in out:
        assert abs(r.area - (r.ao - r.ah)) < 1e-6 * max(1.0, r.ao), r
        assert r.nholes == 1, r
        assert abs(r.area_rt - r.area) < 1e-9 * max(1.0, r.ao), r
        assert abs(r.cx - r.ex) < 1e-3 and abs(r.cy - r.ey) < 1e-3, r
        assert not r.in_hole, r
        assert r.in_annulus, r


def test_bing_tile_quadkey_roundtrip_and_covering(spark):
    """quadkey(tile(x,y,z)) round-trips, and every random point's own
    tile at zoom z is among geometry_to_bing_tiles of any envelope
    containing the point."""
    rng = random.Random(7)
    rows = []
    for i in range(60):
        lat, lng = rng.uniform(-60, 60), rng.uniform(-170, 170)
        dlat, dlng = rng.uniform(0.01, 2), rng.uniform(0.01, 2)
        rows.append((i, lat, lng, min(lat - dlat, lat + dlat), max(lat - dlat, lat + dlat),
                     lng - dlng, lng + dlng, rng.randint(4, 12)))
    df = spark.createDataFrame(
        rows, "id long, lat double, lng double, lat0 double, lat1 double, lng0 double, lng1 double, z int"
    )
    box = P.st_geom_from_text(
        F.concat(
            F.lit("POLYGON (("),
            F.col("lng0").cast("string"), F.lit(" "), F.col("lat0").cast("string"), F.lit(", "),
            F.col("lng1").cast("string"), F.lit(" "), F.col("lat0").cast("string"), F.lit(", "),
            F.col("lng1").cast("string"), F.lit(" "), F.col("lat1").cast("string"), F.lit(", "),
            F.col("lng0").cast("string"), F.lit(" "), F.col("lat1").cast("string"), F.lit(", "),
            F.col("lng0").cast("string"), F.lit(" "), F.col("lat0").cast("string"),
            F.lit("))"),
        )
    )
    own = P.bing_tile_at(F.col("lat"), F.col("lng"), F.col("z"))
    out = df.select(
        "id",
        P.bing_tile_quadkey(own).alias("qk"),
        P.bing_tile_quadkey(P.bing_tile(P.bing_tile_quadkey(own))).alias("qk_rt"),
        F.exists(
            P.geometry_to_bing_tiles(box, F.col("z")),
            lambda t: P.bing_tile_quadkey(t) == P.bing_tile_quadkey(own),
        ).alias("covered"),
        F.col("z"),
    ).collect()
    assert len(out) == 60
    for r in out:
        assert r.qk == r.qk_rt and len(r.qk) == r.z, r
        assert r.covered, r


def test_de9im_general_canonical_matrices():
    """Round 10: exact DE-9IM for line/point kinds — 14 canonical OGC
    matrices pinned (pure Python, no Spark).  Known values: lines-equal
    1FFF0FFF2, lines-touch FF1F00102, lines-overlap 1010F0102,
    line-crosses-polygon 101FF0212, point-within 0FFFFF212, etc."""
    from prestodb_presto_spark.functions.geo_setops import de9im_matrix_general

    def s(m):
        return "".join("F" if d == -1 else str(d) for d in m)

    SQ = [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]]
    cases = [
        (("linestring", [(0, 0), (2, 2)], None),
         ("linestring", [(0, 2), (2, 0)], None), "0F1FF0102"),
        (("linestring", [(0, 0), (1, 1)], None),
         ("linestring", [(0, 0), (1, 1)], None), "1FFF0FFF2"),
        (("linestring", [(0, 0), (1, 1)], None),
         ("linestring", [(1, 1), (2, 0)], None), "FF1F00102"),
        (("linestring", [(0, 0), (2, 0)], None),
         ("linestring", [(1, 0), (3, 0)], None), "1010F0102"),
        (("linestring", [(-1, 2), (5, 2)], None), ("polygon", SQ[0], SQ), "101FF0212"),
        (("linestring", [(1, 1), (2, 2)], None), ("polygon", SQ[0], SQ), "1FF0FF212"),
        (("linestring", [(0, 0), (4, 0)], None), ("polygon", SQ[0], SQ), "F1FF0F212"),
        (("polygon", SQ[0], SQ), ("linestring", [(0, 0), (1, 1)], None), "102F01FF2"),
        (("point", [(1, 1)], None), ("polygon", SQ[0], SQ), "0FFFFF212"),
        (("point", [(0, 2)], None), ("polygon", SQ[0], SQ), "F0FFFF212"),
        (("point", [(9, 9)], None), ("polygon", SQ[0], SQ), "FF0FFF212"),
        (("point", [(1, 1)], None), ("point", [(1, 1)], None), "0FFFFFFF2"),
        (("point", [(1, 1)], None), ("linestring", [(0, 0), (2, 2)], None), "0FFFFF102"),
        (("multipoint", [(1, 1), (9, 9)], None), ("polygon", SQ[0], SQ), "0F0FFF212"),
    ]
    for (ak, ap, ar), (bk, bp, br), want in cases:
        got = s(
            de9im_matrix_general(
                ak, ap, ar if ar is not None else [ap],
                bk, bp, br if br is not None else [bp],
            )
        )
        assert got == want, (ak, bk, got, want)


def test_de9im_self_equality_vertex_order_invariant():
    """Round 11 (ADVICE r10): relating a holed polygon / multipolygon to
    a vertex-rotated copy of itself must be 2FFF1FFF2 (equals) regardless
    of which vertex each ring starts at.  Before the fix,
    _inter_area_ringsets fed identical rings to Greiner–Hormann, whose
    no-intersection fast path ray-casts a vertex lying ON the other ring
    (undefined) — the donut-vs-itself matrix flipped between FF2F1F2F2
    and 2FFF1FFF2 depending on ring start vertex."""
    from prestodb_presto_spark.functions.geo_setops import de9im_matrix_general

    def s(m):
        return "".join("F" if d == -1 else str(d) for d in m)

    def rot(ring, k):
        return ring[k:] + ring[:k]

    outer = [(0, 0), (10, 0), (10, 10), (0, 10)]
    hole = [(3, 3), (7, 3), (7, 7), (3, 7)]
    donut = [outer, hole]
    mp = [[(0, 0), (4, 0), (4, 4), (0, 4)], [(6, 0), (9, 0), (9, 3), (6, 3)]]

    for ka, kb in [(0, 0), (0, 2), (2, 0), (1, 3), (3, 1)]:
        a = [rot(outer, ka), rot(hole, kb)]
        b = [rot(outer, kb), rot(hole, ka)]
        got = s(de9im_matrix_general("polygon", None, a, "polygon", None, b))
        assert got == "2FFF1FFF2", (ka, kb, got)
        a2 = [rot(mp[0], ka), rot(mp[1], kb)]
        b2 = [rot(mp[0], kb), rot(mp[1], ka)]
        got2 = s(
            de9im_matrix_general("multipolygon", None, a2, "multipolygon", None, b2)
        )
        assert got2 == "2FFF1FFF2", (ka, kb, got2)


# --- one implementation per operand kind ------------------------------------

_KINDS = ("point", "multipoint", "linestring", "polygon", "holed", "multipolygon")
_RELATE_PATTERNS = ("T*F**F***", "T*T***T**", "FF*FF****", "F***T****")


def _ring_txt(pts) -> str:
    return "(" + ", ".join(f"{x} {y}" for x, y in pts) + ")"


def _rect(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def _random_kind_wkt(rng: random.Random, kind: str) -> str:
    """One geometry of ``kind`` on the integer grid [0, 8]²: shared grid
    vertices and edges make touching, crossing, overlapping, nested and
    disjoint pairs all common."""

    def pt():
        return rng.randint(0, 8), rng.randint(0, 8)

    def box(min_side=1):
        w, h = rng.randint(min_side, 4), rng.randint(min_side, 4)
        x0, y0 = rng.randint(0, 8 - w), rng.randint(0, 8 - h)
        return x0, y0, x0 + w, y0 + h

    if kind == "point":
        return "POINT ({} {})".format(*pt())
    if kind == "multipoint":
        return "MULTIPOINT (" + ", ".join(_ring_txt([pt()]) for _ in range(rng.randint(2, 3))) + ")"
    if kind == "linestring":
        pts = [pt()]
        while len(pts) < rng.randint(2, 4):
            nxt = pt()
            if nxt != pts[-1]:
                pts.append(nxt)
        return "LINESTRING " + _ring_txt(pts)
    if kind == "polygon":
        x0, y0, x1, y1 = box()
        if rng.random() < 0.5:
            return "POLYGON (" + _ring_txt(_rect(x0, y0, x1, y1)) + ")"
        return "POLYGON (" + _ring_txt([(x0, y0), (x1, y0), (x0, y1), (x0, y0)]) + ")"
    if kind == "holed":
        x0, y0, x1, y1 = box(min_side=3)
        hole = _rect(x0 + 1, y0 + 1, x1 - 1, y1 - 1)[::-1]
        return "POLYGON (" + _ring_txt(_rect(x0, y0, x1, y1)) + ", " + _ring_txt(hole) + ")"
    x0, y0, x1, y1 = box()
    w = rng.randint(1, 2)
    x2 = x1 + rng.randint(1, 2)
    parts = [_rect(x0, y0, x1, y1), _rect(x2, y0, x2 + w, y1)]
    return "MULTIPOLYGON (" + ", ".join("(" + _ring_txt(r) + ")" for r in parts) + ")"


def _kind_pair_rows(seed: int, per_pair: int):
    rng = random.Random(seed)
    rows = []
    for ka in _KINDS:
        for kb in _KINDS:
            for _ in range(per_pair):
                rows.append(
                    (len(rows), ka, kb, _random_kind_wkt(rng, ka), _random_kind_wkt(rng, kb),
                     float(rng.randint(0, 16)) / 2, float(rng.randint(0, 16)) / 2)
                )
    return rows


def _geo_calls(a, b, p) -> list:
    return [
        P.st_area(a),
        P.st_centroid(a),
        P.st_contains(a, p),
        P.st_within(p, a),
        P.st_intersects(a, b),
        P.st_crosses(a, b),
        P.st_overlaps(a, b),
        P.st_touches(a, b),
        P.st_distance_geom(a, b),
        *[P.st_relate(a, b, pat) for pat in _RELATE_PATTERNS],
    ]


def test_geo_functions_equal_for_every_operand_kind(spark):
    """Every measure and predicate returns the same column whether its
    operands are plain column names, ``F.col`` Columns or nested
    ``st_geom_from_text(...)`` expressions — one implementation per
    function, checked over every ordered pair of the six geometry kinds."""
    rows = _kind_pair_rows(seed=20261017, per_pair=5)
    df = spark.createDataFrame(
        rows, "id long, ka string, kb string, wa string, wb string, px double, py double"
    )
    base = df.select(
        "id", "wa", "wb", "px", "py",
        P.st_geom_from_text(F.col("wa")).alias("a"),
        P.st_geom_from_text(F.col("wb")).alias("b"),
        P.st_point(F.col("px"), F.col("py")).alias("p"),
    )
    ways = {
        "name": _geo_calls("a", "b", "p"),
        "col": _geo_calls(F.col("a"), F.col("b"), F.col("p")),
        "nested": _geo_calls(
            P.st_geom_from_text(F.col("wa")),
            P.st_geom_from_text(F.col("wb")),
            P.st_point(F.col("px"), F.col("py")),
        ),
    }
    got = {
        way: [
            tuple(r)
            for r in base.select(
                "id", *[col.alias(f"c{i}") for i, col in enumerate(cols)]
            ).orderBy("id").collect()
        ]
        for way, cols in ways.items()
    }
    assert len(got["name"]) == len(rows)
    assert got["col"] == got["name"]
    assert got["nested"] == got["name"]
    # the set exercises every relation, not just disjoint pairs
    cols = list(zip(*got["name"]))
    crosses, overlaps, touches = cols[6], cols[7], cols[8]
    within, disjoint = cols[10], cols[12]
    for seen in (crosses, overlaps, touches, within, disjoint):
        assert True in seen and False in seen


def test_geo_functions_register_per_session(spark):
    """The geo SQL functions are temporary, so they belong to one
    session: a new session does not see its parent's, and a wrapper
    called while the new session is active creates them there and
    returns the same values."""
    from pyspark.sql import SparkSession

    def measure(session):
        df = session.createDataFrame(
            [("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))",
              "POLYGON ((4 0, 6 0, 6 2, 4 2, 4 0))")],
            "wa string, wb string",
        )
        a, b = P.st_geom_from_text(F.col("wa")), P.st_geom_from_text(F.col("wb"))
        return tuple(df.select(P.st_area(a), P.st_touches(a, b)).collect()[0])

    want = measure(spark)
    assert want == (15.0, True)
    assert spark.catalog.functionExists("__presto_geo_area")
    other = spark.newSession()
    assert not other.catalog.functionExists("__presto_geo_area")
    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    jsession.setActiveSession(other._jsparkSession)
    try:
        assert measure(other) == want
    finally:
        jsession.setActiveSession(spark._jsparkSession)
    assert other.catalog.functionExists("__presto_geo_area")
    assert other.catalog.functionExists("__presto_geo_touches")
