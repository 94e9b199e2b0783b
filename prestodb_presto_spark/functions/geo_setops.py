"""Geometry boolean set operations — ST_Union / ST_Intersection /
ST_Difference / ST_SymDifference.

Reference: presto-geospatial/.../GeoFunctions.java stUnion(:521),
stDifference(:771), stIntersection(:807), stSymmetricDifference(:842) —
the reference delegates to the ESRI OperatorUnion family; here the
polygon×polygon cases run a Greiner–Hormann clip in the pandas-UDF tier
(the same 'iterative geometry algorithm' tier as ST_ConvexHull /
simplify_geometry: per-row Python over Arrow batches, OFF the
relational hot path), and point-set cases are plain vertex-set algebra.

Scope (documented, not silently wrong):
  - point/multipoint × point/multipoint: exact set algebra on vertices.
  - polygon × polygon (simple, single-ring inputs): full boolean via
    Greiner–Hormann; containment/disjoint fast paths.  A−B with B
    strictly inside A yields a polygon WITH A HOLE (rings model);
    disjoint unions yield MULTIPOLYGON.
  - HOLED / MULTIPOLYGON inputs (round 10): the GF(2) even-odd
    identity (_poly_op_ringsets — every op reduces to input rings plus
    pairwise simple-ring clips, equal rings cancelling) answers every
    configuration whose result rings come out fully disjoint (clip a
    donut by a window, union with islands, subtract a hole-covering
    box, self-ops, ...); configurations whose result rings would cross
    or share arcs return NULL (unchanged envelope).
  - other kind combinations (line×polygon clips, mixed-dimension unions
    → GEOMETRYCOLLECTION in the reference) return NULL.

Degenerate inputs (shared edges/vertices between operands) are outside
the supported envelope, like the reference's ESRI "touch" tolerancing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c
from prestodb_presto_spark.functions.geo import GEOM_DDL

_EPS = 1e-9


# --- pure-python polygon clipping (runs inside the pandas UDF) --------------


def _ring_area2(ring):
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += x1 * y2 - x2 * y1
    return s


def _pt_in_ring(pt, ring):
    x, y = pt
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


class _Node:
    __slots__ = ("pt", "next", "prev", "neighbour", "inter", "entry", "visited", "alpha")

    def __init__(self, pt, alpha=0.0, inter=False):
        self.pt = pt
        self.next = self.prev = self.neighbour = None
        self.inter = inter
        self.entry = True
        self.visited = False
        self.alpha = alpha


def _build_list(ring):
    """Open ring (no closing duplicate) → circular doubly-linked list."""
    nodes = [_Node(p) for p in ring]
    for i, n in enumerate(nodes):
        n.next = nodes[(i + 1) % len(nodes)]
        n.prev = nodes[i - 1]
    return nodes[0]


def _seg_intersect(p1, p2, q1, q2):
    """Proper intersection of open segments → (t, u, point) or None."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    denom = rx * sy - ry * sx
    if abs(denom) < _EPS:
        return None
    qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
    t = (qpx * sy - qpy * sx) / denom
    u = (qpx * ry - qpy * rx) / denom
    if _EPS < t < 1 - _EPS and _EPS < u < 1 - _EPS:
        return t, u, (p1[0] + t * rx, p1[1] + t * ry)
    return None


def _insert_sorted(edge_start, node):
    """Insert an intersection node after edge_start, keeping alpha order."""
    cur = edge_start
    while cur.next.inter and cur.next.alpha < node.alpha:
        cur = cur.next
    node.next = cur.next
    node.prev = cur
    cur.next.prev = node
    cur.next = node


def _greiner_hormann(subject, clip, op):
    """Boolean of two simple open rings; op ∈ {'and','or','sub'}.
    Returns a list of closed rings (may be empty)."""
    s_head, c_head = _build_list(subject), _build_list(clip)

    # phase 1: find pairwise proper intersections, insert twin nodes
    found = False
    s_edges = []
    n = s_head
    while True:
        if not n.inter:
            s_edges.append(n)
        n = n.next
        if n is s_head:
            break
    c_edges = []
    n = c_head
    while True:
        if not n.inter:
            c_edges.append(n)
        n = n.next
        if n is c_head:
            break
    for se in s_edges:
        se_end = se.next
        while se_end.inter:
            se_end = se_end.next
        for ce in c_edges:
            ce_end = ce.next
            while ce_end.inter:
                ce_end = ce_end.next
            hit = _seg_intersect(se.pt, se_end.pt, ce.pt, ce_end.pt)
            if hit:
                t, u, pt = hit
                a = _Node(pt, t, True)
                b = _Node(pt, u, True)
                a.neighbour, b.neighbour = b, a
                _insert_sorted(se, a)
                _insert_sorted(ce, b)
                found = True

    closed_subject = subject + [subject[0]]
    closed_clip = clip + [clip[0]]
    if not found:
        # containment / disjoint fast paths
        s_in_c = _pt_in_ring(subject[0], closed_clip)
        c_in_s = _pt_in_ring(clip[0], closed_subject)
        if op == "and":
            if s_in_c:
                return [closed_subject]
            if c_in_s:
                return [closed_clip]
            return []
        if op == "or":
            if s_in_c:
                return [closed_clip]
            if c_in_s:
                return [closed_subject]
            return [closed_subject, closed_clip]  # disjoint → two parts
        if op == "sub":
            if s_in_c:
                return []
            if c_in_s:
                return [closed_subject, closed_clip]  # hole (even-odd rings)
            return [closed_subject]

    # phase 2: entry/exit flags by alternation from the start point's
    # containment status; op-dependent inversion (classic G-H table:
    # and=(0,0), or=(1,1), sub=invert SUBJECT only — inverting the clip
    # instead traces B∖A whenever the traversal's first unvisited
    # intersection lands on a B-inside-A arc; caught by the randomized
    # inclusion–exclusion property, 95/400 seeded pairs wrong)
    def mark(head, other_closed, invert):
        status = not _pt_in_ring(head.pt, other_closed)  # True ⇒ next crossing enters
        n = head
        while True:
            if n.inter:
                n.entry = status if not invert else not status
                status = not status
            n = n.next
            if n is head:
                break

    mark(s_head, closed_clip, invert=(op != "and"))
    mark(c_head, closed_subject, invert=(op == "or"))

    # phase 3: traverse
    rings = []
    while True:
        start = None
        n = s_head
        while True:
            if n.inter and not n.visited:
                start = n
                break
            n = n.next
            if n is s_head:
                break
        if start is None:
            break
        ring = [start.pt]
        cur = start
        while True:
            cur.visited = cur.neighbour.visited = True
            if cur.entry:
                while True:
                    cur = cur.next
                    ring.append(cur.pt)
                    if cur.inter:
                        break
            else:
                while True:
                    cur = cur.prev
                    ring.append(cur.pt)
                    if cur.inter:
                        break
            cur = cur.neighbour
            if cur is start or cur.neighbour is start:
                break
        if len(ring) >= 4:
            if ring[0] != ring[-1]:
                ring.append(ring[0])
            rings.append(ring)
    return rings


def _close(ring):
    return ring if ring and ring[0] == ring[-1] else ring + [ring[0]]


def _open(ring):
    return ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else ring


def _canon_ring(r):
    """Canonical form of a closed/open ring as a point sequence up to
    rotation and direction — used to CANCEL equal rings (GF(2) XOR)."""
    body = _open([tuple(p) for p in r])
    i = body.index(min(body))
    fwd = tuple(body[i:] + body[:i])
    rev = list(reversed(body))
    j = rev.index(min(rev))
    bwd = tuple(rev[j:] + rev[:j])
    return min(fwd, bwd)


def _rings_cancel(rings):
    """Remove ring PAIRS equal as point sets: in even-odd (GF(2))
    semantics a ring appearing twice contributes nothing."""
    out: list = []
    seen: dict = {}
    for r in rings:
        key = _canon_ring(r)
        if key in seen:
            out[seen[key]] = None
            del seen[key]
        else:
            seen[key] = len(out)
            out.append(r)
    return [r for r in out if r is not None]


def _rings_fully_disjoint(rings):
    """True when no two rings' edges intersect at all (no crossings, no
    collinear overlaps, no touches) — the validity condition under
    which a concatenated even-odd ring set is a well-formed polygon for
    every downstream parity probe."""
    opens = [_open([tuple(p) for p in r]) for r in rings]
    for i in range(len(opens)):
        a = opens[i]
        na = len(a)
        for j in range(i + 1, len(opens)):
            b = opens[j]
            nb = len(b)
            for ii in range(na):
                for jj in range(nb):
                    kind, _ = _seg_params(
                        a[ii], a[(ii + 1) % na], b[jj], b[(jj + 1) % nb]
                    )
                    if kind != "none":
                        return False
    return True


def _poly_op_ringsets(a_open, b_open, op):
    """Boolean set op for even-odd RING SETS (holed polygons /
    multipolygons) via the GF(2) identity: with χ_A = ⊕ᵢ χ_{Rᵢ} and
    χ_B = ⊕ⱼ χ_{Sⱼ},

        A∩B = ⊕ᵢⱼ (Rᵢ∩Sⱼ)          (AND distributes over XOR)
        A∪B = A ⊕ B ⊕ (A∩B)
        A∖B = A ⊕ (A∩B)
        AΔB = A ⊕ B

    so every op is a CONCATENATION of input rings and pairwise
    simple-ring Greiner–Hormann clips, with equal rings cancelling.
    The concatenation is emitted only when the resulting rings are
    fully disjoint (no two rings' edges intersect) — then it is a valid
    nested even-odd set and every downstream parity probe (st_area
    nesting signs, ray-cast containment) is well-defined.  Crossing /
    arc-sharing configurations return None (the documented NULL
    envelope, unchanged)."""
    and_rings = []
    if op != "sym":
        for ra in a_open:
            ca = _canon_ring(ra)
            for rb in b_open:
                if ca == _canon_ring(rb):
                    # identical rings: R∩R = R, deterministically — the
                    # G-H fast path would ray-cast a vertex lying ON the
                    # other ring (undefined) for this case
                    and_rings.append(_close(list(ra)))
                else:
                    and_rings.extend(_greiner_hormann(ra, rb, "and"))
    if op == "and":
        cand = list(and_rings)
    elif op == "or":
        cand = [_close(list(r)) for r in a_open] + [
            _close(list(r)) for r in b_open
        ] + and_rings
    elif op == "sub":
        cand = [_close(list(r)) for r in a_open] + and_rings
    else:  # sym
        cand = [_close(list(r)) for r in a_open] + [
            _close(list(r)) for r in b_open
        ]
    cand = _rings_cancel(cand)
    if not cand:
        return ("multipolygon", [])
    if not _rings_fully_disjoint(cand):
        return None
    outers = sum(
        1
        for r in cand
        if not any(o is not r and _pt_in_ring(r[0], o) for o in cand)
    )
    kind = "multipolygon" if outers > 1 else "polygon"
    return (kind, [list(r) for r in cand])


def _poly_op(a_rings, b_rings, op):
    """Dispatch one polygon boolean; single-ring inputs take the full
    Greiner–Hormann path, multi-ring (holed / multipolygon) inputs the
    GF(2) ring-set path (_poly_op_ringsets)."""
    if len(a_rings) != 1 or len(b_rings) != 1:
        a_open = [
            r
            for r in (_open([tuple(p) for p in rr]) for rr in a_rings)
            if len(r) >= 3
        ]
        b_open = [
            r
            for r in (_open([tuple(p) for p in rr]) for rr in b_rings)
            if len(r) >= 3
        ]
        if not a_open or not b_open:
            return None
        return _poly_op_ringsets(a_open, b_open, op)
    a, b = _open([tuple(p) for p in a_rings[0]]), _open([tuple(p) for p in b_rings[0]])
    if len(a) < 3 or len(b) < 3:
        return None
    if op == "sym":
        rings = _greiner_hormann(a, b, "sub") + _greiner_hormann(b, a, "sub")
    else:
        rings = _greiner_hormann(a, b, op)
    if not rings:
        return ("multipolygon", [])
    # rotate each ring to start at an ORIGINAL input vertex when one
    # exists: result rings that begin at an intersection node would give
    # downstream first-vertex parity probes (st_area ring nesting) a
    # point lying ON a sibling ring's boundary, where ray-cast parity is
    # undefined
    originals = set(a) | set(b)
    rotated = []
    for r in rings:
        body = _open(r)
        pivot = next((i for i, p in enumerate(body) if p in originals), None)
        if pivot:
            body = body[pivot:] + body[:pivot]
        rotated.append(_close(body))
    rings = rotated
    # >1 disjoint outer = multipolygon; outer+holes (parity) = polygon
    outers = sum(
        1
        for r in rings
        if not any(o is not r and _pt_in_ring(r[0], o) for o in rings)
    )
    kind = "multipolygon" if outers > 1 else "polygon"
    return (kind, [list(r) for r in rings])


def _pts_op(a_pts, b_pts, op):
    a = list(dict.fromkeys(tuple(p) for p in a_pts))
    b_set = {tuple(p) for p in b_pts}
    if op == "and":
        out = [p for p in a if p in b_set]
    elif op == "or":
        out = a + [p for p in dict.fromkeys(tuple(q) for q in b_pts) if p not in set(a)]
    elif op == "sub":
        out = [p for p in a if p not in b_set]
    else:  # sym
        a_set = set(a)
        out = [p for p in a if p not in b_set] + [
            p for p in dict.fromkeys(tuple(q) for q in b_pts) if p not in a_set
        ]
    kind = "point" if len(out) == 1 else "multipoint"
    return (kind, [out])  # single "ring" holding the vertex list


_POLY_KINDS = {"polygon", "multipolygon"}
_PT_KINDS = {"point", "multipoint"}


def _binary_setop(op):
    """GEOM×GEOM → GEOM pandas UDF for one boolean op."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(GEOM_DDL)
    def _f(ga, gb):
        import pandas as pd

        kinds, ptss, ringss = [], [], []
        for (_, a), (_, b) in zip(ga.iterrows(), gb.iterrows()):
            res = None
            if a["pts"] is not None and b["pts"] is not None:
                ak, bk = a["kind"], b["kind"]
                if ak in _PT_KINDS and bk in _PT_KINDS:
                    res = _pts_op(
                        [(p["x"], p["y"]) for p in a["pts"]],
                        [(p["x"], p["y"]) for p in b["pts"]],
                        op,
                    )
                elif ak in _POLY_KINDS and bk in _POLY_KINDS:
                    res = _poly_op(
                        [[(p["x"], p["y"]) for p in r] for r in a["rings"]],
                        [[(p["x"], p["y"]) for p in r] for r in b["rings"]],
                        op,
                    )
            if res is None:
                kinds.append(None)
                ptss.append(None)
                ringss.append(None)
            else:
                kind, rings = res
                out_rings = [
                    [{"x": float(x), "y": float(y)} for x, y in r] for r in rings
                ]
                kinds.append(kind)
                ptss.append(out_rings[0] if out_rings else [])
                ringss.append(out_rings)
        return pd.DataFrame({"kind": kinds, "pts": ptss, "rings": ringss})

    return _f


@register("st_union")
def st_union(g1, g2) -> Column:
    """ST_Union(a, b) (GeoFunctions.stUnion:521)."""
    return _binary_setop("or")(c(g1), c(g2))


@register("st_intersection")
def st_intersection(g1, g2) -> Column:
    """ST_Intersection(a, b) (GeoFunctions.stIntersection:807)."""
    return _binary_setop("and")(c(g1), c(g2))


@register("st_difference")
def st_difference(g1, g2) -> Column:
    """ST_Difference(a, b) (GeoFunctions.stDifference:771)."""
    return _binary_setop("sub")(c(g1), c(g2))


@register("st_sym_difference")
def st_sym_difference(g1, g2) -> Column:
    """ST_SymDifference(a, b) (GeoFunctions.stSymmetricDifference:842)."""
    return _binary_setop("sym")(c(g1), c(g2))


# ---------------------------------------------------------------- DE-9IM
# Exact dimension-digit ST_Relate for simple single-ring polygons
# (round 9 — narrows the round-6 refusal: T/F/* patterns stay native in
# functions/geo.py; 0/1/2 digits need exact intersection DIMENSIONS,
# computed here in the pandas tier from the same primitives as the
# boolean set ops).  Reference: GeoFunctions.stRelate (ESRI
# OperatorRelate); cell dimensions per the OGC SFS DE-9IM definition.

_EPS = 1e-9


def _seg_params(p1, p2, q1, q2):
    """Intersection parameters of segment p (at t) with segment q (at
    u), incl. collinear overlaps: returns (kind, data) where kind is
    'none' | 'point' (t, u) | 'overlap' (t0, t1 on p)."""
    rx, ry = p2[0] - p1[0], p2[1] - p1[1]
    sx, sy = q2[0] - q1[0], q2[1] - q1[1]
    denom = rx * sy - ry * sx
    qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
    cross_qp_r = qpx * ry - qpy * rx
    scale = max(abs(rx), abs(ry), abs(sx), abs(sy), 1.0)
    if abs(denom) <= _EPS * scale * scale:
        if abs(cross_qp_r) > _EPS * scale * scale:
            return ("none", None)  # parallel, not collinear
        rr = rx * rx + ry * ry
        if rr <= _EPS:
            return ("none", None)
        t0 = (qpx * rx + qpy * ry) / rr
        t1 = t0 + (sx * rx + sy * ry) / rr
        lo, hi = max(0.0, min(t0, t1)), min(1.0, max(t0, t1))
        if hi - lo > _EPS:
            return ("overlap", (lo, hi))
        if hi >= lo - _EPS and 0.0 - _EPS <= lo <= 1.0 + _EPS:
            return ("point", (max(0.0, min(1.0, lo)), None))
        return ("none", None)
    t = (qpx * sy - qpy * sx) / denom
    u = cross_qp_r / denom
    if -_EPS <= t <= 1 + _EPS and -_EPS <= u <= 1 + _EPS:
        return ("point", (min(1.0, max(0.0, t)), min(1.0, max(0.0, u))))
    return ("none", None)


def _on_boundary(pt, ring):
    """Point within _EPS of any ring segment."""
    x, y = pt
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        rr = dx * dx + dy * dy
        if rr <= _EPS:
            continue
        t = max(0.0, min(1.0, ((x - x1) * dx + (y - y1) * dy) / rr))
        qx, qy = x1 + t * dx, y1 + t * dy
        if (x - qx) ** 2 + (y - qy) ** 2 <= _EPS * _EPS * max(rr, 1.0):
            return True
    return False


def _strict_in(pt, ring):
    return not _on_boundary(pt, ring) and _pt_in_ring(pt, _close(list(ring)))


def _boundary_sub_dim(src_ring, other_ring, want_inside):
    """1 if some positive-length sub-arc of src's boundary lies strictly
    inside (want_inside) / strictly outside (not want_inside) other,
    else -1 (F).  Edges split at every intersection parameter with
    other's edges; each sub-segment is classified by its midpoint."""
    n, m = len(src_ring), len(other_ring)
    for i in range(n):
        p1, p2 = src_ring[i], src_ring[(i + 1) % n]
        ts = {0.0, 1.0}
        for j in range(m):
            q1, q2 = other_ring[j], other_ring[(j + 1) % m]
            kind, data = _seg_params(p1, p2, q1, q2)
            if kind == "point":
                ts.add(data[0])
            elif kind == "overlap":
                ts.update(data)
        cuts = sorted(ts)
        for a, b in zip(cuts, cuts[1:]):
            if b - a <= _EPS:
                continue
            mid = ((p1[0] + (p2[0] - p1[0]) * (a + b) / 2),
                   (p1[1] + (p2[1] - p1[1]) * (a + b) / 2))
            if _on_boundary(mid, other_ring):
                continue
            inside = _pt_in_ring(mid, _close(list(other_ring)))
            if inside == want_inside:
                return 1
    return -1


def _pt_in_region(pt, rings):
    """Even-odd membership over a FULL ring set (polygon with holes /
    multipolygon parts): inside iff an odd number of rings contain pt."""
    return sum(1 for r in rings if _pt_in_ring(pt, _close(list(r)))) % 2 == 1


def _on_boundary_region(pt, rings):
    return any(_on_boundary(pt, r) for r in rings)


def _ring_signs(rings):
    """Even-odd parity sign per ring (+1 outer depth, −1 hole depth):
    depth = how many OTHER rings strictly contain a representative
    vertex (falling back to edge midpoints when every vertex touches a
    sibling ring)."""
    signs = []
    for i, r in enumerate(rings):
        others = [o for j, o in enumerate(rings) if j != i]
        cands = list(r) + [
            ((r[k][0] + r[(k + 1) % len(r)][0]) / 2.0,
             (r[k][1] + r[(k + 1) % len(r)][1]) / 2.0)
            for k in range(len(r))
        ]
        v = next(
            (p for p in cands if not any(_on_boundary(p, o) for o in others)),
            r[0],
        )
        depth = sum(1 for o in others if _strict_in(v, o))
        signs.append(-1 if depth % 2 else 1)
    return signs


def _eo_area_rings(rings):
    """Even-odd area of the region bounded by open ``rings``."""
    if not rings:
        return 0.0
    signs = _ring_signs(rings)
    return sum(
        s * abs(_ring_area2(_close(list(r)))) / 2.0 for s, r in zip(signs, rings)
    )


def _inter_area_ringsets(a_rings, b_rings):
    """Exact area of the intersection of two even-odd regions WITHOUT a
    general holed-polygon clipper: χ_A = Σ σ_i χ_{R_i} for a valid
    (non-crossing) ring set, so area(A∩B) = ∬χ_Aχ_B =
    Σ_{i,j} σ_i τ_j · area(R_i ∩ S_j) — every term a SIMPLE-ring clip
    the existing Greiner–Hormann tier already computes."""
    sa, sb = _ring_signs(a_rings), _ring_signs(b_rings)
    total = 0.0
    for i, a in enumerate(a_rings):
        ca = _canon_ring(a)
        for j, b in enumerate(b_rings):
            if ca == _canon_ring(b):
                # identical rings: R∩R = R, deterministically — the G-H
                # no-intersection fast path would ray-cast a vertex lying
                # ON the other ring (undefined), making the result
                # vertex-order dependent (mirrors _poly_op_ringsets)
                total += sa[i] * sb[j] * abs(_ring_area2(_close(list(a)))) / 2.0
                continue
            rings = _greiner_hormann(list(a), list(b), "and")
            if rings:
                total += sa[i] * sb[j] * _eo_area_rings(
                    [_open([tuple(p) for p in r]) for r in rings]
                )
    return total


def _boundary_sub_dim_rs(src_rings, other_rings, want_inside):
    """Ring-set generalization of _boundary_sub_dim: 1 if some
    positive-length sub-arc of ANY src ring lies strictly inside
    (want_inside) / strictly outside (not want_inside) the other
    region, else -1."""
    for src in src_rings:
        n = len(src)
        for i in range(n):
            p1, p2 = src[i], src[(i + 1) % n]
            ts = {0.0, 1.0}
            for other in other_rings:
                m = len(other)
                for j in range(m):
                    kind, data = _seg_params(p1, p2, other[j], other[(j + 1) % m])
                    if kind == "point":
                        ts.add(data[0])
                    elif kind == "overlap":
                        ts.update(data)
            cuts = sorted(ts)
            for a, b in zip(cuts, cuts[1:]):
                if b - a <= _EPS:
                    continue
                mid = (
                    p1[0] + (p2[0] - p1[0]) * (a + b) / 2,
                    p1[1] + (p2[1] - p1[1]) * (a + b) / 2,
                )
                if _on_boundary_region(mid, other_rings):
                    continue
                if _pt_in_region(mid, other_rings) == want_inside:
                    return 1
    return -1


def _de9im_matrix(a_ringset, b_ringset):
    """Exact DE-9IM dimensions for even-odd polygonal regions given as
    FULL ring sets (single rings, holed polygons, multipolygon parts) —
    values in {-1 (empty), 0, 1, 2} row-major over (I,B,E)x(I,B,E).
    Round 10 closes the round-6/9 single-ring restriction: interior
    areas come from the inclusion-exclusion pairwise-clip identity
    (_inter_area_ringsets), boundary dims from ring-set midpoint
    classification."""
    a_rings = [
        _open([tuple(p) for p in r]) for r in a_ringset
    ]
    b_rings = [
        _open([tuple(p) for p in r]) for r in b_ringset
    ]
    a_rings = [r for r in a_rings if len(r) >= 3]
    b_rings = [r for r in b_rings if len(r) >= 3]
    area_a = _eo_area_rings(a_rings)
    area_b = _eo_area_rings(b_rings)
    area_ab = _inter_area_ringsets(a_rings, b_rings)
    scale = max(area_a, area_b, 1.0)
    ii = 2 if area_ab > _EPS * scale else -1
    ie = 2 if area_a - area_ab > _EPS * scale else -1
    ei = 2 if area_b - area_ab > _EPS * scale else -1
    # boundary x boundary: collinear overlap → 1; any touch point → 0
    bb = -1
    for a in a_rings:
        na = len(a)
        for b in b_rings:
            nb = len(b)
            for i in range(na):
                for j in range(nb):
                    kind, _data = _seg_params(
                        a[i], a[(i + 1) % na], b[j], b[(j + 1) % nb]
                    )
                    if kind == "overlap":
                        bb = 1
                    elif kind == "point" and bb < 0:
                        bb = 0
                if bb == 1:
                    break
            if bb == 1:
                break
        if bb == 1:
            break
    ib = _boundary_sub_dim_rs(b_rings, a_rings, want_inside=True)   # I(A) ∩ B(B)
    bi = _boundary_sub_dim_rs(a_rings, b_rings, want_inside=True)   # B(A) ∩ I(B)
    be = _boundary_sub_dim_rs(a_rings, b_rings, want_inside=False)  # B(A) ∩ E(B)
    eb = _boundary_sub_dim_rs(b_rings, a_rings, want_inside=False)  # E(A) ∩ B(B)
    return [ii, ib, ie, bi, bb, be, ei, eb, 2]


def relate_exact(pattern: str):
    """GEOM×GEOM → BOOLEAN pandas UDF evaluating a full DE-9IM pattern
    (dimension digits included) for EVERY supported kind pair — areal
    (simple / holed / MULTIPOLYGON ring sets, even-odd), LINESTRING,
    and (MULTI)POINT, in all combinations (round 10; the general
    dispatch is de9im_matrix_general).  OGC boundary conventions:
    point boundary = empty, line boundary = endpoints (empty when
    closed), polygon boundary = its rings."""
    from pyspark.sql.functions import pandas_udf

    pat = pattern.upper()

    def _cell_ok(ch, d):
        if ch == "*":
            return True
        if ch == "T":
            return d >= 0
        if ch == "F":
            return d == -1
        return d == int(ch)

    @pandas_udf("boolean")
    def _f(ga, gb):
        import pandas as pd

        out = []
        for (_, a), (_, b) in zip(ga.iterrows(), gb.iterrows()):
            if a["pts"] is None or b["pts"] is None:
                out.append(None)
                continue
            m = de9im_matrix_general(
                a["kind"],
                [(p["x"], p["y"]) for p in a["pts"]],
                [[(p["x"], p["y"]) for p in ring] for ring in a["rings"]],
                b["kind"],
                [(p["x"], p["y"]) for p in b["pts"]],
                [[(p["x"], p["y"]) for p in ring] for ring in b["rings"]],
            )
            out.append(all(_cell_ok(ch, d) for ch, d in zip(pat, m)))
        return pd.Series(out)

    return _f


# --- DE-9IM for line/point kinds (round 10: the general dispatch) -----------
# OGC boundary conventions: point/multipoint boundary = EMPTY; linestring
# boundary = its two endpoints (mod-2 rule: EMPTY when the path is closed);
# polygonal boundary = the ring set.  With those, every kind pair reduces
# to the primitives above (segment-pair classification, sub-arc midpoint
# tests, even-odd region membership).


def _path_edges(path):
    return [
        (path[i], path[i + 1])
        for i in range(len(path) - 1)
        if path[i] != path[i + 1]
    ]


def _on_path(pt, path):
    """pt within _EPS of the OPEN polyline (no closing edge)."""
    x, y = pt
    for (x1, y1), (x2, y2) in _path_edges(path):
        dx, dy = x2 - x1, y2 - y1
        rr = dx * dx + dy * dy
        t = max(0.0, min(1.0, ((x - x1) * dx + (y - y1) * dy) / rr))
        qx, qy = x1 + t * dx, y1 + t * dy
        if (x - qx) ** 2 + (y - qy) ** 2 <= _EPS * _EPS * max(rr, 1.0):
            return True
    return False


def _line_boundary(path):
    """Mod-2 boundary: the endpoints, EMPTY for a closed path."""
    if len(path) > 1 and path[0] == path[-1]:
        return []
    return [path[0], path[-1]]


def _same_pt(a, b):
    return abs(a[0] - b[0]) <= _EPS and abs(a[1] - b[1]) <= _EPS


def _split_ts(p1, p2, other_edges):
    ts = {0.0, 1.0}
    for q1, q2 in other_edges:
        kind, data = _seg_params(p1, p2, q1, q2)
        if kind == "point":
            ts.add(data[0])
        elif kind == "overlap":
            ts.update(data)
    return sorted(ts)


def _sub_arc_exists(edges, other_edges, classify):
    """True if some positive-length sub-arc of ``edges`` (split at every
    intersection with ``other_edges``) has a midpoint where ``classify``
    holds."""
    for p1, p2 in edges:
        cuts = _split_ts(p1, p2, other_edges)
        for a, b in zip(cuts, cuts[1:]):
            if b - a <= _EPS:
                continue
            mid = (
                p1[0] + (p2[0] - p1[0]) * (a + b) / 2,
                p1[1] + (p2[1] - p1[1]) * (a + b) / 2,
            )
            if classify(mid):
                return True
    return False


def _transpose_de9im(m):
    ii, ib, ie, bi, bb, be, ei, eb, ee = m
    return [ii, bi, ei, ib, bb, eb, ie, be, ee]


def _line_line_de9im(a_path, b_path):
    """DE-9IM for LINESTRING x LINESTRING."""
    a_edges, b_edges = _path_edges(a_path), _path_edges(b_path)
    a_bnd, b_bnd = _line_boundary(a_path), _line_boundary(b_path)

    def a_interior_pt(p):
        return _on_path(p, a_path) and not any(_same_pt(p, e) for e in a_bnd)

    def b_interior_pt(p):
        return _on_path(p, b_path) and not any(_same_pt(p, e) for e in b_bnd)

    ii = -1
    for p1, p2 in a_edges:
        for q1, q2 in b_edges:
            kind, data = _seg_params(p1, p2, q1, q2)
            if kind == "overlap":
                ii = 1
            elif kind == "point" and ii < 0:
                t = data[0]
                pt = (p1[0] + t * (p2[0] - p1[0]), p1[1] + t * (p2[1] - p1[1]))
                if a_interior_pt(pt) and b_interior_pt(pt):
                    ii = 0
        if ii == 1:
            break
    ib = 0 if any(a_interior_pt(e) for e in b_bnd) else -1
    bi = 0 if any(b_interior_pt(e) for e in a_bnd) else -1
    bb = (
        0
        if any(any(_same_pt(ea, eb_) for eb_ in b_bnd) for ea in a_bnd)
        else -1
    )
    be = 0 if any(not _on_path(e, b_path) for e in a_bnd) else -1
    eb = 0 if any(not _on_path(e, a_path) for e in b_bnd) else -1
    ie = 1 if _sub_arc_exists(a_edges, b_edges, lambda m: not _on_path(m, b_path)) else -1
    ei = 1 if _sub_arc_exists(b_edges, a_edges, lambda m: not _on_path(m, a_path)) else -1
    return [ii, ib, ie, bi, bb, be, ei, eb, 2]


def _line_poly_de9im(a_path, b_rings):
    """DE-9IM for LINESTRING x even-odd polygonal ring set."""
    a_edges = _path_edges(a_path)
    a_bnd = _line_boundary(a_path)
    ring_edges = []
    for r in b_rings:
        n = len(r)
        ring_edges.extend((r[i], r[(i + 1) % n]) for i in range(n))

    def strictly_in(p):
        return not _on_boundary_region(p, b_rings) and _pt_in_region(p, b_rings)

    def strictly_out(p):
        return not _on_boundary_region(p, b_rings) and not _pt_in_region(p, b_rings)

    ii = 1 if _sub_arc_exists(a_edges, ring_edges, strictly_in) else -1
    ie = 1 if _sub_arc_exists(a_edges, ring_edges, strictly_out) else -1
    # I(L) ∩ B(P): collinear overlap → 1; else an interior touch point → 0
    ib = -1
    for p1, p2 in a_edges:
        for q1, q2 in ring_edges:
            kind, data = _seg_params(p1, p2, q1, q2)
            if kind == "overlap":
                ib = 1
            elif kind == "point" and ib < 0:
                t = data[0]
                pt = (p1[0] + t * (p2[0] - p1[0]), p1[1] + t * (p2[1] - p1[1]))
                if not any(_same_pt(pt, e) for e in a_bnd):
                    ib = 0
        if ib == 1:
            break
    bi = 0 if any(strictly_in(e) for e in a_bnd) else -1
    bb = 0 if any(_on_boundary_region(e, b_rings) for e in a_bnd) else -1
    be = 0 if any(strictly_out(e) for e in a_bnd) else -1
    eb = (
        1
        if _sub_arc_exists(ring_edges, a_edges, lambda m: not _on_path(m, a_path))
        else -1
    )
    return [ii, ib, ie, bi, bb, be, 2, eb, 2]


def _pts_poly_de9im(a_pts, b_rings):
    """DE-9IM for (MULTI)POINT x polygonal region (point boundary = ∅)."""
    on = [_on_boundary_region(p, b_rings) for p in a_pts]
    inside = [
        (not o) and _pt_in_region(p, b_rings) for p, o in zip(a_pts, on)
    ]
    ii = 0 if any(inside) else -1
    ib = 0 if any(on) else -1
    ie = 0 if any(not o and not i for o, i in zip(on, inside)) else -1
    return [ii, ib, ie, -1, -1, -1, 2, 1, 2]


def _pts_line_de9im(a_pts, b_path):
    """DE-9IM for (MULTI)POINT x LINESTRING."""
    b_bnd = _line_boundary(b_path)

    def b_interior_pt(p):
        return _on_path(p, b_path) and not any(_same_pt(p, e) for e in b_bnd)

    ii = 0 if any(b_interior_pt(p) for p in a_pts) else -1
    ib = 0 if any(any(_same_pt(p, e) for e in b_bnd) for p in a_pts) else -1
    ie = 0 if any(not _on_path(p, b_path) for p in a_pts) else -1
    eb = (
        0
        if any(not any(_same_pt(e, p) for p in a_pts) for e in b_bnd)
        else -1
    )
    # E(A) ∩ I(B): a finite point set can't cover a positive-length line
    return [ii, ib, ie, -1, -1, -1, 1, eb, 2]


def _pts_pts_de9im(a_pts, b_pts):
    shared = any(any(_same_pt(a, b) for b in b_pts) for a in a_pts)
    a_only = any(not any(_same_pt(a, b) for b in b_pts) for a in a_pts)
    b_only = any(not any(_same_pt(b, a) for a in a_pts) for b in b_pts)
    return [
        0 if shared else -1, -1, 0 if a_only else -1,
        -1, -1, -1,
        0 if b_only else -1, -1, 2,
    ]


_AREAL = ("polygon", "multipolygon")
_LINEAL = ("linestring",)
_PUNCTAL = ("point", "multipoint")


def de9im_matrix_general(a_kind, a_pts, a_rings, b_kind, b_pts, b_rings):
    """Exact DE-9IM for every supported kind pair — areal x areal
    (ring-set even-odd), lineal, punctal, and all mixes (reversed
    orders via matrix transpose)."""
    if a_kind in _AREAL and b_kind in _AREAL:
        return _de9im_matrix(a_rings, b_rings)
    if a_kind in _LINEAL and b_kind in _LINEAL:
        return _line_line_de9im(a_pts, b_pts)
    if a_kind in _PUNCTAL and b_kind in _PUNCTAL:
        return _pts_pts_de9im(a_pts, b_pts)
    if a_kind in _LINEAL and b_kind in _AREAL:
        return _line_poly_de9im(
            a_pts, [_open([tuple(p) for p in r]) for r in b_rings]
        )
    if a_kind in _AREAL and b_kind in _LINEAL:
        return _transpose_de9im(
            _line_poly_de9im(b_pts, [_open([tuple(p) for p in r]) for r in a_rings])
        )
    if a_kind in _PUNCTAL and b_kind in _AREAL:
        return _pts_poly_de9im(
            a_pts, [_open([tuple(p) for p in r]) for r in b_rings]
        )
    if a_kind in _AREAL and b_kind in _PUNCTAL:
        return _transpose_de9im(
            _pts_poly_de9im(b_pts, [_open([tuple(p) for p in r]) for r in a_rings])
        )
    if a_kind in _PUNCTAL and b_kind in _LINEAL:
        return _pts_line_de9im(a_pts, b_pts)
    if a_kind in _LINEAL and b_kind in _PUNCTAL:
        return _transpose_de9im(_pts_line_de9im(b_pts, a_pts))
    raise NotImplementedError(f"ST_Relate for kinds {a_kind!r} x {b_kind!r}")
