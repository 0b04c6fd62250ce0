"""Topological predicates: robust orientation + winding-number point-in-ring.

Reproduces the behavior of the reference's predicate stack:

- two-stage robust ``orient2d``: fast float determinant guarded by a
  Shewchuk-style forward error bound, with an exact rational fallback only
  for near-degenerate triples (reference: ``geo/src/algorithm/kernels/mod.rs:27-43``
  fast path, ``kernels/robust.rs:14-44`` exact path);
- winding-number point-vs-ring with the reference's exact edge-crossing
  rules and on-boundary short-circuit
  (``geo/src/algorithm/coordinate_position.rs:399-455``);
- polygon position = exterior test then hole tests
  (``coordinate_position.rs:281-319``).

All functions are vectorized: points are (n,) float64 arrays, rings are
(m, 2) float64 arrays. Position codes: +1 inside, 0 boundary, -1 outside
(matching ``CoordPos::{Inside,OnBoundary,Outside}``).
"""

from __future__ import annotations


import numpy as np

INSIDE = np.int8(1)
ON_BOUNDARY = np.int8(0)
OUTSIDE = np.int8(-1)

_EPS = np.finfo(np.float64).eps / 2.0  # 2^-53, Shewchuk's epsilon
# Forward error bound for the 2x2 determinant filter (ccwerrboundA).
_CCW_ERRBOUND = (3.0 + 16.0 * _EPS) * _EPS

# Max number of float64 cells in one points-x-edges block before chunking.
# Kept small (~2 MB per temp array) so the winding kernel's temporaries stay
# in L2/L3 and malloc reuses buffers instead of mmap/munmap round trips —
# 32 concurrent workers each allocating 300 MB blocks caused page-fault
# storms that destroyed multi-core scaling.
_BLOCK_CELLS = 262_144


def _scaled_ints(*vals):
    """Floats → exact integers on a common power-of-two denominator.

    Every finite float64 is m·2^e; ``as_integer_ratio`` exposes it exactly,
    and a uniform scale preserves the sign of any HOMOGENEOUS polynomial of
    the coordinates — so exact sign computations run on Python bigints
    (~20× faster than the Fraction arithmetic they replace)."""
    rs = [float(v).as_integer_ratio() for v in vals]
    d = max(r[1] for r in rs)
    return [n * (d // q) for n, q in rs]


def _exact_orient_sign(ax: float, ay: float, bx: float, by: float, cx: float, cy: float) -> int:
    """Exact orientation sign via scaled-integer arithmetic (degree-2
    homogeneous determinant — uniform scaling keeps the sign)."""
    ax, ay, bx, by, cx, cy = _scaled_ints(ax, ay, bx, by, cx, cy)
    det = (ax - cx) * (by - cy) - (ay - cy) * (bx - cx)
    return (det > 0) - (det < 0)


def orient2d(ax, ay, bx, by, cx, cy):
    """Sign of the orientation of (a, b, c): +1 CCW, -1 CW, 0 collinear.

    Broadcasts over numpy arrays. Stage 1 is the plain float determinant with
    a relative error-bound filter; elements whose determinant magnitude falls
    under the bound are recomputed exactly with rational arithmetic — the
    same fast-filter/exact-fallback structure as the reference's RobustKernel.
    """
    ax, ay, bx, by, cx, cy = np.broadcast_arrays(
        *(np.asarray(v, dtype=np.float64) for v in (ax, ay, bx, by, cx, cy))
    )
    detleft = (ax - cx) * (by - cy)
    detright = (ay - cy) * (bx - cx)
    det = detleft - detright
    detsum = np.abs(detleft) + np.abs(detright)
    sign = np.sign(det).astype(np.int8)
    ambiguous = np.abs(det) <= _CCW_ERRBOUND * detsum
    # Exclude trivially-exact zeros (detsum == 0 means both products are 0).
    ambiguous &= detsum > 0.0
    if ambiguous.any():
        idx = np.flatnonzero(ambiguous.ravel())
        axr, ayr = ax.ravel(), ay.ravel()
        bxr, byr = bx.ravel(), by.ravel()
        cxr, cyr = cx.ravel(), cy.ravel()
        flat_sign = sign.ravel()
        for i in idx:
            flat_sign[i] = _exact_orient_sign(
                axr[i], ayr[i], bxr[i], byr[i], cxr[i], cyr[i]
            )
        sign = flat_sign.reshape(sign.shape)
    return sign


def _close_ring(ring: np.ndarray) -> np.ndarray:
    ring = np.asarray(ring, dtype=np.float64)
    if ring.ndim != 2 or ring.shape[1] != 2:
        raise ValueError(f"ring must be (m, 2), got {ring.shape}")
    if len(ring) > 0 and (ring[0] != ring[-1]).any():
        ring = np.vstack([ring, ring[:1]])
    return ring


def ring_position(px, py, ring) -> np.ndarray:
    """Position of points relative to a closed ring: +1/0/-1.

    Winding-number algorithm with the reference's edge-crossing rules
    (``coordinate_position.rs:420-455``):

    1. branch A (start.y <= p.y and end.y >= p.y): CCW and end.y != p.y
       increments the winding number; collinear with x between the segment
       x-range is OnBoundary;
    2. branch B (start.y > p.y and end.y <= p.y): CW decrements; collinear
       with x between is OnBoundary;
    3. inside iff winding number != 0 (nonzero rule).
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    n = len(px)
    ring = _close_ring(ring)
    if len(ring) == 0:
        return np.full(n, OUTSIDE, dtype=np.int8)
    if len(ring) == 1:
        onb = (px == ring[0, 0]) & (py == ring[0, 1])
        return np.where(onb, ON_BOUNDARY, OUTSIDE).astype(np.int8)

    sx, sy = ring[:-1, 0], ring[:-1, 1]
    ex, ey = ring[1:, 0], ring[1:, 1]
    m = len(sx)
    xlo = np.minimum(sx, ex)
    xhi = np.maximum(sx, ex)

    out = np.empty(n, dtype=np.int8)
    chunk = max(1, _BLOCK_CELLS // max(m, 1))
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        PX = px[lo:hi, None]
        PY = py[lo:hi, None]
        branch_a = (sy[None, :] <= PY) & (ey[None, :] >= PY)
        branch_b = (~(sy[None, :] <= PY)) & (ey[None, :] <= PY)
        active = branch_a | branch_b
        o = np.zeros(active.shape, dtype=np.int8)
        if active.any():
            # Compute orientation only where a branch is active.
            ai, aj = np.nonzero(active)
            o[ai, aj] = orient2d(
                sx[aj], sy[aj], ex[aj], ey[aj], PX[ai, 0], PY[ai, 0]
            )
        on_boundary = (
            active & (o == 0) & (PX >= xlo[None, :]) & (PX <= xhi[None, :])
        ).any(axis=1)
        wn = (branch_a & (o > 0) & (ey[None, :] != PY)).sum(axis=1) - (
            branch_b & (o < 0)
        ).sum(axis=1)
        res = np.where(wn != 0, INSIDE, OUTSIDE).astype(np.int8)
        res[on_boundary] = ON_BOUNDARY
        out[lo:hi] = res
    return out


def polygon_position(px, py, exterior, interiors=()) -> np.ndarray:
    """Position of points relative to a polygon (shell + holes): +1/0/-1.

    Shell/hole logic per ``coordinate_position.rs:281-319``: outside shell →
    outside; on shell boundary → boundary; inside shell → on a hole boundary
    is boundary, inside a hole is outside, otherwise inside.
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    res = ring_position(px, py, exterior)
    if len(interiors) == 0:
        return res
    pending = res == INSIDE  # still candidates for hole demotion
    for hole in interiors:
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        hp = ring_position(px[idx], py[idx], hole)
        res[idx[hp == ON_BOUNDARY]] = ON_BOUNDARY
        res[idx[hp == INSIDE]] = OUTSIDE
        pending[idx[hp != OUTSIDE]] = False
    return res


def polygon_contains_point(px, py, exterior, interiors=()) -> np.ndarray:
    """``Contains``: strictly interior (``contains/polygon.rs:17-21``)."""
    return polygon_position(px, py, exterior, interiors) == INSIDE


def multipolygon_position(px, py, polygons) -> np.ndarray:
    """Position relative to a multipolygon.

    Accumulation semantics of ``CoordinatePosition`` for compound geometries
    (``coordinate_position.rs:38-56``): inside any member → Inside; else an
    odd number of boundary hits → OnBoundary (OGC mod-2 rule); else Outside.

    ``polygons`` is an iterable of (exterior, interiors) pairs.
    """
    px = np.asarray(px, dtype=np.float64).ravel()
    py = np.asarray(py, dtype=np.float64).ravel()
    inside = np.zeros(len(px), dtype=bool)
    boundary_count = np.zeros(len(px), dtype=np.int64)
    for exterior, interiors in polygons:
        pos = polygon_position(px, py, exterior, interiors)
        inside |= pos == INSIDE
        boundary_count += pos == ON_BOUNDARY
    res = np.where(
        inside, INSIDE, np.where(boundary_count % 2 == 1, ON_BOUNDARY, OUTSIDE)
    ).astype(np.int8)
    return res


def rect_position(px, py, xmin, ymin, xmax, ymax) -> np.ndarray:
    """Position of points relative to axis-aligned rects: +1/0/-1.

    Comparison-chain semantics of ``CoordinatePosition for Rect``
    (``coordinate_position.rs:217-262``): strictly outside any bound →
    Outside; on any bound (and not outside another) → OnBoundary; else
    Inside. Vectorized over broadcastable point/rect arrays.
    """
    px, py, xmin, ymin, xmax, ymax = np.broadcast_arrays(
        *(np.asarray(v, dtype=np.float64) for v in (px, py, xmin, ymin, xmax, ymax))
    )
    outside = (px < xmin) | (py < ymin) | (px > xmax) | (py > ymax)
    boundary = (px == xmin) | (py == ymin) | (px == xmax) | (py == ymax)
    return np.where(outside, OUTSIDE, np.where(boundary, ON_BOUNDARY, INSIDE)).astype(
        np.int8
    )


def segments_intersect(ax, ay, bx, by, cx, cy, dx, dy) -> np.ndarray:
    """Whether segment (a,b) intersects segment (c,d), boundaries included.

    Orientation-test formulation equivalent to the reference's
    ``intersects/line.rs:20-70``: proper crossing when the two endpoints of
    each segment straddle the other segment; collinear overlap handled via
    bbox-overlap on the shared line.
    """
    o1 = orient2d(ax, ay, bx, by, cx, cy)
    o2 = orient2d(ax, ay, bx, by, dx, dy)
    o3 = orient2d(cx, cy, dx, dy, ax, ay)
    o4 = orient2d(cx, cy, dx, dy, bx, by)
    proper = (o1 * o2 < 0) & (o3 * o4 < 0)

    def on_seg(px_, py_, sx_, sy_, ex_, ey_, o_):
        return (
            (o_ == 0)
            & (px_ >= np.minimum(sx_, ex_))
            & (px_ <= np.maximum(sx_, ex_))
            & (py_ >= np.minimum(sy_, ey_))
            & (py_ <= np.maximum(sy_, ey_))
        )

    touch = (
        on_seg(cx, cy, ax, ay, bx, by, o1)
        | on_seg(dx, dy, ax, ay, bx, by, o2)
        | on_seg(ax, ay, cx, cy, dx, dy, o3)
        | on_seg(bx, by, cx, cy, dx, dy, o4)
    )
    return proper | touch
