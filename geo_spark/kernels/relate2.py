"""Full DE-9IM relate for every supported geometry pair.

Reference parity: ``relate/relate_operation.rs`` + ``intersection_matrix.rs``
(JTS RelateComputer lineage). The reference builds a geometry graph (~3.5k
LoC of noding + edge-end labeling); this engine computes the identical
matrix with a leaner, equally exact decomposition over kernels it already
trusts:

- **noding**: every segment of A is split at its intersections with B's
  segments (robust ``line_intersection`` — exact orientation gates,
  endpoint snapping, collinear overlaps). After noding, the *open* interior
  of each sub-segment lies entirely in one class (interior/boundary/
  exterior) of the other geometry, so one midpoint classification per piece
  decides its contribution. Collinear overlaps are detected exactly during
  noding (never by midpoint-on-line float tests).
- **open-set argument**: a 1-D piece can meet the other geometry's interior
  or exterior (both open sets) only in dimension 1, and its boundary in
  dimension 1 only along a detected collinear overlap — so piece midpoints
  + intersection nodes + explicit boundary points enumerate every non-'2'
  matrix cell exactly.
- **area entries** (interior∩interior / interior∩exterior for polygon
  pairs) come from the boolean overlay (kernels.boolops): the intersection
  / difference has positive area iff the DE-9IM cell is '2'.
- **boundaries**: SFS mod-2 rule for (multi)linestrings — endpoints
  occurring an odd number of times; polygon boundaries are their rings;
  points have none.

Matrix strings and the predicate pattern language follow
``intersection_matrix.rs`` ('0'/'1'/'2'/'F', patterns with 'T'/'*').
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from geo_spark.kernels.lines import line_intersection
from geo_spark.kernels.predicates import segments_intersect

_DIM_ORDER = {"F": -1, "0": 0, "1": 1, "2": 2}


class _Matrix:
    __slots__ = ("m",)

    def __init__(self):
        self.m = [["F"] * 3 for _ in range(3)]

    def up(self, i: int, j: int, dim: str):
        if _DIM_ORDER[dim] > _DIM_ORDER[self.m[i][j]]:
            self.m[i][j] = dim

    def s(self) -> str:
        return "".join(self.m[i][j] for i in range(3) for j in range(3))


I, B, E = 0, 1, 2


def _transpose(s: str) -> str:
    return "".join(s[3 * j + i] for i in range(3) for j in range(3))


# --- component extraction ----------------------------------------------------


def components(g):
    """(points, lines, polys) from a parsed-WKT (kind, data) geometry."""
    kind, data = g
    if kind == "Point":
        return [np.asarray(data, dtype=np.float64).reshape(2)], [], []
    if kind == "MultiPoint":
        return list(np.asarray(data, dtype=np.float64).reshape(-1, 2)), [], []
    if kind == "LineString":
        return [], [np.asarray(data, dtype=np.float64)], []
    if kind == "MultiLineString":
        return [], [np.asarray(l, dtype=np.float64) for l in data], []
    if kind == "Polygon":
        return [], [], [(np.asarray(data[0], dtype=np.float64),
                         [np.asarray(h, dtype=np.float64) for h in data[1:]])]
    if kind == "MultiPolygon":
        return [], [], [(np.asarray(p[0], dtype=np.float64),
                         [np.asarray(h, dtype=np.float64) for h in p[1:]]) for p in data]
    if kind == "GeometryCollection":
        pts, lines, polys = [], [], []
        for m in data:
            p, l, A = components(m)
            pts.extend(p)
            lines.extend(l)
            polys.extend(A)
        return pts, lines, polys
    raise ValueError(f"unsupported geometry kind: {kind}")


def _segs_of_lines(lines) -> np.ndarray:
    parts = []
    for l in lines:
        if len(l) >= 2:
            parts.append(np.hstack([l[:-1], l[1:]]))
    if not parts:
        return np.empty((0, 4), dtype=np.float64)
    return np.vstack(parts)


def _segs_of_polys(polys) -> np.ndarray:
    rings = []
    for ext, holes in polys:
        rings.append(ext)
        rings.extend(holes)
    return _segs_of_lines(rings)


def _line_boundary(lines) -> set:
    """SFS mod-2 boundary: endpoints of open components occurring oddly."""
    cnt: Counter = Counter()
    for l in lines:
        if len(l) >= 2 and not (l[0] == l[-1]).all():
            cnt[(float(l[0, 0]), float(l[0, 1]))] += 1
            cnt[(float(l[-1, 0]), float(l[-1, 1]))] += 1
    return {p for p, c in cnt.items() if c % 2 == 1}


# --- point classifiers -------------------------------------------------------


def _on_segs(p, segs: np.ndarray) -> bool:
    if len(segs) == 0:
        return False
    n = len(segs)
    px = np.full(n, p[0])
    py = np.full(n, p[1])
    return bool(
        segments_intersect(px, py, px, py, segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]).any()
    )


def _cls_vs_lines(p, segs, boundary: set) -> int:
    if (float(p[0]), float(p[1])) in boundary:
        return B
    return I if _on_segs(p, segs) else E


def _cls_vs_polys(p, polys) -> int:
    """Point class vs a polygon set under *relate* semantics: the boundary is
    the union of the rings (JTS RelateComputer), NOT the mod-2 rule that
    ``CoordinatePosition`` (coordinate_position.rs:38-56) applies — a point
    where two members of a valid multipolygon touch is Boundary for DE-9IM
    even though mod-2 would cancel the two ring hits."""
    from geo_spark.kernels.predicates import polygon_position

    on_boundary = False
    for exterior, interiors in polys:
        pos = int(polygon_position([p[0]], [p[1]], exterior, interiors)[0])
        if pos == 1:
            return I
        if pos == 0:
            on_boundary = True
    return B if on_boundary else E


# --- noding ------------------------------------------------------------------


def _node(lines, other_segs: np.ndarray):
    """Split each segment of ``lines`` at its intersections with
    ``other_segs``. Returns (pieces, nodes): pieces = [(midpoint, on_overlap)]
    with on_overlap exact (from collinear-overlap results, not float point
    tests); nodes = intersection points (crossings + endpoint touches +
    overlap endpoints)."""
    sub, nodes = node_pieces(lines, other_segs)
    return [(0.5 * (np.asarray(a) + np.asarray(b)), on) for a, b, on in sub], nodes


def node_pieces(lines, other_segs: np.ndarray):
    """Like ``_node`` but returns the sub-segments themselves:
    ([(a, b, on_overlap)], nodes)."""
    pieces, nodes = [], []
    has_other = other_segs is not None and len(other_segs) > 0
    if has_other:
        o_minx = np.minimum(other_segs[:, 0], other_segs[:, 2])
        o_maxx = np.maximum(other_segs[:, 0], other_segs[:, 2])
        o_miny = np.minimum(other_segs[:, 1], other_segs[:, 3])
        o_maxy = np.maximum(other_segs[:, 1], other_segs[:, 3])
    for l in lines:
        for k in range(len(l) - 1):
            p0, p1 = l[k], l[k + 1]
            if p0[0] == p1[0] and p0[1] == p1[1]:
                continue
            axis = 0 if abs(p1[0] - p0[0]) >= abs(p1[1] - p0[1]) else 1
            denom = p1[axis] - p0[axis]

            def t_of(pt):
                return min(max((pt[axis] - p0[axis]) / denom, 0.0), 1.0)

            ts = {0.0, 1.0}
            ovs = []
            if has_other:
                lo_x, hi_x = min(p0[0], p1[0]), max(p0[0], p1[0])
                lo_y, hi_y = min(p0[1], p1[1]), max(p0[1], p1[1])
                cand = np.flatnonzero(
                    (o_minx <= hi_x) & (o_maxx >= lo_x) & (o_miny <= hi_y) & (o_maxy >= lo_y)
                )
                for si in cand:
                    s = other_segs[si]
                    r = line_intersection(p0, p1, (s[0], s[1]), (s[2], s[3]))
                    if r is None:
                        continue
                    if r[0] == "point":
                        ts.add(t_of(r[1]))
                        nodes.append(r[1])
                    else:
                        a, b = r[1]
                        ta, tb = sorted((t_of(a), t_of(b)))
                        ts.add(ta)
                        ts.add(tb)
                        ovs.append((ta, tb))
                        nodes.append(a)
                        nodes.append(b)
            tss = sorted(ts)
            for ta, tb in zip(tss, tss[1:]):
                if tb - ta <= 1e-12:
                    continue
                tm = 0.5 * (ta + tb)
                on = any(o0 - 1e-12 <= tm <= o1 + 1e-12 for o0, o1 in ovs)
                pa = (p0[0] + ta * (p1[0] - p0[0]), p0[1] + ta * (p1[1] - p0[1]))
                pb = (p0[0] + tb * (p1[0] - p0[0]), p0[1] + tb * (p1[1] - p0[1]))
                pieces.append((pa, pb, on))
    return pieces, nodes


# --- pair-class relates --------------------------------------------------------


def _relate_pp(pa, pb) -> str:
    sa = {(float(p[0]), float(p[1])) for p in pa}
    sb = {(float(p[0]), float(p[1])) for p in pb}
    m = _Matrix()
    if sa & sb:
        m.up(I, I, "0")
    if sa - sb:
        m.up(I, E, "0")
    if sb - sa:
        m.up(E, I, "0")
    m.up(E, E, "2")
    return m.s()


def _relate_pl(pa, lb) -> str:
    segs = _segs_of_lines(lb)
    bnd = _line_boundary(lb)
    sa = {(float(p[0]), float(p[1])) for p in pa}
    m = _Matrix()
    for p in pa:
        m.up(I, _cls_vs_lines(p, segs, bnd), "0")
    m.up(E, I, "1")  # a finite point set never covers a 1-D interior
    if any(b not in sa for b in bnd):
        m.up(E, B, "0")
    m.up(E, E, "2")
    return m.s()


def _relate_pa(pa, Ab) -> str:
    m = _Matrix()
    for p in pa:
        m.up(I, _cls_vs_polys(p, Ab), "0")
    m.up(E, I, "2")
    m.up(E, B, "1")
    m.up(E, E, "2")
    return m.s()


def _relate_ll(la, lb) -> str:
    segs_a = _segs_of_lines(la)
    segs_b = _segs_of_lines(lb)
    bnd_a = _line_boundary(la)
    bnd_b = _line_boundary(lb)
    pieces_a, nodes = _node(la, segs_b)
    pieces_b, _ = _node(lb, segs_a)
    m = _Matrix()
    for mid, on in pieces_a:
        if on:
            m.up(I, I, "1")  # collinear shared arc (both interiors: 1-D)
        else:
            m.up(I, E, "1")
    for mid, on in pieces_b:
        if not on:
            m.up(E, I, "1")
    for p in nodes:
        ca = B if (float(p[0]), float(p[1])) in bnd_a else I
        cb = B if (float(p[0]), float(p[1])) in bnd_b else I
        m.up(ca, cb, "0")
    for a in bnd_a:
        m.up(B, _cls_vs_lines(a, segs_b, bnd_b), "0")
    for b in bnd_b:
        m.up(_cls_vs_lines(b, segs_a, bnd_a), B, "0")
    m.up(E, E, "2")
    return m.s()


def _relate_la(la, Ab) -> str:
    segs_a = _segs_of_lines(la)
    segs_b = _segs_of_polys(Ab)
    bnd_a = _line_boundary(la)
    pieces_a, nodes = _node(la, segs_b)
    pieces_b, _ = _node([r for ext, holes in Ab for r in [ext] + list(holes)], segs_a)
    m = _Matrix()
    for mid, on in pieces_a:
        if on:
            m.up(I, B, "1")  # line runs along a ring
        else:
            m.up(I, _cls_vs_polys(mid, Ab), "1")
    for p in nodes:
        # nodes lie on B's boundary by construction
        ca = B if (float(p[0]), float(p[1])) in bnd_a else I
        m.up(ca, B, "0")
    for a in bnd_a:
        m.up(B, _cls_vs_polys(a, Ab), "0")
    for mid, on in pieces_b:
        if not on:
            m.up(E, B, "1")
    m.up(E, I, "2")  # a line never covers a 2-D interior
    m.up(E, E, "2")
    return m.s()


def _overlay_area(pa, pb, op: str) -> float:
    from geo_spark.kernels.boolops import multipolygon_boolean_op, overlay_area

    return overlay_area(multipolygon_boolean_op(pa, pb, op))


def _relate_aa(Aa, Ab) -> str:
    from geo_spark.kernels.area import ring_signed_area

    def area_of(polys):
        tot = 0.0
        for ext, holes in polys:
            tot += abs(ring_signed_area(ext))
            for h in holes:
                tot -= abs(ring_signed_area(h))
        return tot

    area_a, area_b = area_of(Aa), area_of(Ab)
    tol = 1e-9 * max(area_a, area_b, 1.0)
    m = _Matrix()
    if _overlay_area(Aa, Ab, "intersection") > tol:
        m.up(I, I, "2")
    if _overlay_area(Aa, Ab, "difference") > tol:
        m.up(I, E, "2")
    if _overlay_area(Ab, Aa, "difference") > tol:
        m.up(E, I, "2")
    rings_a = [r for ext, holes in Aa for r in [ext] + list(holes)]
    rings_b = [r for ext, holes in Ab for r in [ext] + list(holes)]
    segs_a = _segs_of_lines(rings_a)
    segs_b = _segs_of_lines(rings_b)
    pieces_a, nodes = _node(rings_a, segs_b)
    pieces_b, _ = _node(rings_b, segs_a)
    for mid, on in pieces_a:
        if on:
            m.up(B, B, "1")
        else:
            m.up(B, _cls_vs_polys(mid, Ab), "1")
    for mid, on in pieces_b:
        if on:
            m.up(B, B, "1")
        else:
            m.up(_cls_vs_polys(mid, Aa), B, "1")
    for p in nodes:
        m.up(B, B, "0")
    m.up(E, E, "2")
    return m.s()


# --- dispatch ------------------------------------------------------------------


def relate_matrix(ga, gb) -> str:
    """DE-9IM matrix string for any supported (kind, data) geometry pair.

    Operands must be dimension-homogeneous (a GeometryCollection is fine as
    long as all members share a dimension) — a mixed collection's matrix is
    not the elementwise combination of its parts, so it raises instead of
    silently dropping the lower-dimensional members."""
    pa, la, Aa = components(ga)
    pb, lb, Ab = components(gb)
    for p, l, A in ((pa, la, Aa), (pb, lb, Ab)):
        if sum(1 for c in (p, l, A) if c) > 1:
            raise ValueError("relate over mixed-dimension collections is unsupported")

    def klass(p, l, A):
        if A:
            return 2
        if l:
            return 1
        return 0

    ka, kb = klass(pa, la, Aa), klass(pb, lb, Ab)
    if ka > kb:
        return _transpose(relate_matrix(gb, ga))
    if ka == 0 and kb == 0:
        return _relate_pp(pa, pb)
    if ka == 0 and kb == 1:
        return _relate_pl(pa, lb)
    if ka == 0 and kb == 2:
        return _relate_pa(pa, Ab)
    if ka == 1 and kb == 1:
        return _relate_ll(la, lb)
    if ka == 1 and kb == 2:
        return _relate_la(la, Ab)
    return _relate_aa(Aa, Ab)


def relate_polygon_pair(ext_a, holes_a, ext_b, holes_b) -> str:
    """Matrix for two simple polygons given as coordinate arrays."""
    return _relate_aa(
        [(np.asarray(ext_a, dtype=np.float64),
          [np.asarray(h, dtype=np.float64) for h in holes_a])],
        [(np.asarray(ext_b, dtype=np.float64),
          [np.asarray(h, dtype=np.float64) for h in holes_b])],
    )
