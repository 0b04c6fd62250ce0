"""Line-geometry kernels: intersection, interpolation, measures along lines.

Behavior parity targets (reference files):

- ``line_intersection`` (``line_intersection.rs:76-220``, JTS
  RobustLineIntersector lineage): bbox fast-reject, robust orientation
  gates, endpoint-snap for improper intersections, collinear overlap
  segments;
- ``LineInterpolatePoint`` / ``LineLocatePoint`` / ``Substring``
  (``line_interpolate_point.rs:41``, ``line_locate_point.rs:38``,
  ``line_measures/substring.rs:46``);
- ``Densify`` (``line_measures/densify.rs:60``): insert vertices so no
  segment exceeds max_segment_length — ceil-split per segment;
- ``FrechetDistance`` (``line_measures/frechet_distance.rs:13``):
  discrete Fréchet via linear-memory DP;
- ``HausdorffDistance`` (``hausdorff_distance.rs:14``): max of directed
  coordinate-wise min distances;
- ``ClosestPoint`` (``closest_point.rs:27``): nearest point on a geometry,
  with Intersection/SinglePoint result kinds;
- ``IsConvex`` (``is_convex.rs:45``): orientation scan of a closed ring.
"""

from __future__ import annotations

import numpy as np

from geo_spark.kernels.measures import euclidean_distance, point_segment_distance
from geo_spark.kernels.predicates import orient2d


# --- segment intersection ---------------------------------------------------

def line_intersection(p0, p1, q0, q1):
    """Intersection of segments (p0,p1) and (q0,q1).

    Returns None, ('point', (x, y), is_proper), or ('collinear', (a, b))
    with a/b the overlap endpoints — mirroring LineIntersection's variants.
    """
    p0 = np.asarray(p0, dtype=np.float64)
    p1 = np.asarray(p1, dtype=np.float64)
    q0 = np.asarray(q0, dtype=np.float64)
    q1 = np.asarray(q1, dtype=np.float64)
    # bbox fast reject
    if (
        max(p0[0], p1[0]) < min(q0[0], q1[0])
        or min(p0[0], p1[0]) > max(q0[0], q1[0])
        or max(p0[1], p1[1]) < min(q0[1], q1[1])
        or min(p0[1], p1[1]) > max(q0[1], q1[1])
    ):
        return None

    def o(a, b, c):
        return int(orient2d(a[0], a[1], b[0], b[1], c[0], c[1]))

    p_q1 = o(p0, p1, q0)
    p_q2 = o(p0, p1, q1)
    if (p_q1 > 0 and p_q2 > 0) or (p_q1 < 0 and p_q2 < 0):
        return None
    q_p1 = o(q0, q1, p0)
    q_p2 = o(q0, q1, p1)
    if (q_p1 > 0 and q_p2 > 0) or (q_p1 < 0 and q_p2 < 0):
        return None

    if p_q1 == 0 and p_q2 == 0 and q_p1 == 0 and q_p2 == 0:
        return _collinear_intersection(p0, p1, q0, q1)

    if p_q1 == 0 or p_q2 == 0 or q_p1 == 0 or q_p2 == 0:
        # improper: snap to the shared/incident endpoint (exact copy)
        if (p0 == q0).all() or (p0 == q1).all():
            pt = p0
        elif (p1 == q0).all() or (p1 == q1).all():
            pt = p1
        elif p_q1 == 0:
            pt = q0
        elif p_q2 == 0:
            pt = q1
        elif q_p1 == 0:
            pt = p0
        else:
            pt = p1
        return ("point", (float(pt[0]), float(pt[1])), False)

    # proper intersection: parametric solve
    d1 = p1 - p0
    d2 = q1 - q0
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    t = ((q0[0] - p0[0]) * d2[1] - (q0[1] - p0[1]) * d2[0]) / denom
    x = p0[0] + t * d1[0]
    y = p0[1] + t * d1[1]
    return ("point", (float(x), float(y)), True)


def _collinear_intersection(p0, p1, q0, q1):
    # project onto the dominant axis
    axis = 0 if abs(p1[0] - p0[0]) >= abs(p1[1] - p0[1]) else 1
    pts = sorted([tuple(p0), tuple(p1)], key=lambda c: c[axis])
    qts = sorted([tuple(q0), tuple(q1)], key=lambda c: c[axis])
    lo = max(pts[0][axis], qts[0][axis])
    hi = min(pts[1][axis], qts[1][axis])
    if lo > hi:
        return None
    cands = [c for c in [tuple(p0), tuple(p1), tuple(q0), tuple(q1)] if lo <= c[axis] <= hi]
    cands.sort(key=lambda c: c[axis])
    a, b = cands[0], cands[-1]
    if a == b:
        return ("point", (float(a[0]), float(a[1])), False)
    return ("collinear", ((float(a[0]), float(a[1])), (float(b[0]), float(b[1]))))


def sweep_intersections(segments: np.ndarray, include_endpoints: bool = True):
    """All pairwise segment intersections, sorted-by-x candidate pruning.

    The distributed analogue of the reference's simplified Bentley-Ottmann
    (``sweep/mod.rs:11-47``): sort once by min-x, scan with an active window,
    exact pairwise test per candidate pair. ``segments`` is (n, 4) as
    (x0, y0, x1, y1). Returns list of (i, j, result) with i < j.
    """
    segments = np.asarray(segments, dtype=np.float64)
    n = len(segments)
    min_x = np.minimum(segments[:, 0], segments[:, 2])
    max_x = np.maximum(segments[:, 0], segments[:, 2])
    order = np.argsort(min_x, kind="mergesort")
    out = []
    active: list[int] = []
    for oi in order:
        x_start = min_x[oi]
        active = [a for a in active if max_x[a] >= x_start]
        for a in active:
            i, j = (a, oi) if a < oi else (oi, a)
            r = line_intersection(
                segments[i, :2], segments[i, 2:], segments[j, :2], segments[j, 2:]
            )
            if r is not None:
                if not include_endpoints and r[0] == "point" and not r[2]:
                    continue
                out.append((int(i), int(j), r))
        active.append(int(oi))
    return out


# --- interpolation / location along lines ------------------------------------

def _segment_lengths(coords: np.ndarray) -> np.ndarray:
    d = coords[1:] - coords[:-1]
    return np.hypot(d[:, 0], d[:, 1])


def line_interpolate_point(coords: np.ndarray, fraction: float):
    """Point at ``fraction`` of the line's total planar length (clamped)."""
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) == 0:
        return None
    if len(coords) == 1:
        return (float(coords[0, 0]), float(coords[0, 1]))
    if np.isnan(fraction):
        return None
    fraction = min(max(fraction, 0.0), 1.0)
    lengths = _segment_lengths(coords)
    total = float(lengths.sum())
    if total == 0.0:
        return (float(coords[0, 0]), float(coords[0, 1]))
    target = fraction * total
    cum = np.concatenate([[0.0], np.cumsum(lengths)])
    i = int(np.searchsorted(cum, target, side="right") - 1)
    i = min(i, len(lengths) - 1)
    seg_len = lengths[i]
    t = 0.0 if seg_len == 0 else (target - cum[i]) / seg_len
    p = coords[i] + t * (coords[i + 1] - coords[i])
    return (float(p[0]), float(p[1]))


def line_locate_point(coords: np.ndarray, px: float, py: float):
    """Fraction along the line of the closest point to (px, py)."""
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 2:
        return None
    a = coords[:-1]
    b = coords[1:]
    d = b - a
    seg_len2 = d[:, 0] ** 2 + d[:, 1] ** 2
    with np.errstate(invalid="ignore", divide="ignore"):
        t = ((px - a[:, 0]) * d[:, 0] + (py - a[:, 1]) * d[:, 1]) / np.where(
            seg_len2 == 0, 1, seg_len2
        )
    t = np.clip(np.where(seg_len2 == 0, 0.0, t), 0.0, 1.0)
    qx = a[:, 0] + t * d[:, 0]
    qy = a[:, 1] + t * d[:, 1]
    dist = np.hypot(px - qx, py - qy)
    i = int(np.argmin(dist))
    lengths = _segment_lengths(coords)
    total = float(lengths.sum())
    if total == 0.0:
        return 0.0
    cum = np.concatenate([[0.0], np.cumsum(lengths)])
    return float((cum[i] + t[i] * lengths[i]) / total)


def substring(coords: np.ndarray, start_fraction: float, end_fraction: float) -> np.ndarray:
    """Sub-linestring between two fractional measures (ST_LineSubstring)."""
    coords = np.asarray(coords, dtype=np.float64)
    s = min(max(start_fraction, 0.0), 1.0)
    e = min(max(end_fraction, 0.0), 1.0)
    if e < s:
        s, e = e, s
    if len(coords) < 2:
        return coords.copy()
    lengths = _segment_lengths(coords)
    total = float(lengths.sum())
    if total == 0.0:
        return coords[:1].repeat(2, axis=0)
    cum = np.concatenate([[0.0], np.cumsum(lengths)]) / total
    pts = [line_interpolate_point(coords, s)]
    inner = coords[1:-1][(cum[1:-1] > s) & (cum[1:-1] < e)]
    for p in inner:
        pts.append((float(p[0]), float(p[1])))
    pts.append(line_interpolate_point(coords, e))
    return np.asarray(pts, dtype=np.float64)


def densify(coords: np.ndarray, max_segment_length: float) -> np.ndarray:
    """Insert vertices so every segment is <= max_segment_length (planar)."""
    if max_segment_length <= 0:
        raise ValueError("max_segment_length must be > 0")
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 2:
        return coords.copy()
    out = [coords[0]]
    for i in range(len(coords) - 1):
        a, b = coords[i], coords[i + 1]
        seg_len = float(np.hypot(*(b - a)))
        n_splits = int(np.ceil(seg_len / max_segment_length))
        for k in range(1, n_splits):
            out.append(a + (b - a) * (k / n_splits))
        out.append(b)
    return np.asarray(out, dtype=np.float64)


def segmentize(coords: np.ndarray, n_segments: int) -> np.ndarray:
    """Split a line into n equal-length pieces; returns n+1 breakpoints."""
    if n_segments < 1:
        raise ValueError("n_segments must be >= 1")
    return np.asarray(
        [line_interpolate_point(coords, k / n_segments) for k in range(n_segments + 1)],
        dtype=np.float64,
    )


# --- metric-parameterized densify / segmentize --------------------------------
#
# Reference parity: geo/src/algorithm/line_measures/densify.rs:139-167
# (per-segment num_segments = ceil(metric.distance / max_segment_length),
# intermediates at equal ratios via metric.point_at_ratio_between) and
# linestring_segment.rs:43 (LineStringSegmentizeHaversine). Units are METERS
# for the geographic metrics, coordinate units for 'euclidean'.


def _metric_segment_fns(metric: str):
    """(pair_distance, point_at_ratio) for a metric-space name.

    ``pair_distance(lon1, lat1, lon2, lat2) -> meters`` (vectorized) and
    ``point_at_ratio(lon1, lat1, lon2, lat2, dist, ratios) -> (lon, lat)``
    where every argument is already expanded per output point. Haversine
    interpolates by great-circle slerp, geodesic by the Karney direct
    solution at ``ratio * s12`` along the initial azimuth, rhumb along the
    loxodrome at constant bearing.
    """
    if metric == "haversine":
        from geo_spark.kernels.geom2 import haversine_intermediate
        from geo_spark.kernels.measures import haversine_distance

        def at_ratio(lon1, lat1, lon2, lat2, dist, ratios):
            # slerp handles vector ratios: sin((1-f)d)/sin(d) is elementwise
            l1, p1 = np.radians(lon1), np.radians(lat1)
            l2, p2 = np.radians(lon2), np.radians(lat2)
            d = haversine_distance(lon1, lat1, lon2, lat2, radius=1.0)
            f = ratios
            with np.errstate(invalid="ignore", divide="ignore"):
                a = np.where(d == 0, 1 - f, np.sin((1 - f) * d) / np.sin(d))
                b = np.where(d == 0, f, np.sin(f * d) / np.sin(d))
            x = a * np.cos(p1) * np.cos(l1) + b * np.cos(p2) * np.cos(l2)
            y = a * np.cos(p1) * np.sin(l1) + b * np.cos(p2) * np.sin(l2)
            z = a * np.sin(p1) + b * np.sin(p2)
            return (
                np.degrees(np.arctan2(y, x)),
                np.degrees(np.arctan2(z, np.hypot(x, y))),
            )

        _ = haversine_intermediate  # single-point twin, kept for parity tests
        return haversine_distance, at_ratio
    if metric == "geodesic":
        from geo_spark.kernels.geodesic import (
            geodesic_direct_batch,
            geodesic_inverse_batch,
        )

        def dist(lon1, lat1, lon2, lat2):
            return geodesic_inverse_batch(lat1, lon1, lat2, lon2)[0]

        def at_ratio(lon1, lat1, lon2, lat2, dist, ratios):
            _, azi1, _ = geodesic_inverse_batch(lat1, lon1, lat2, lon2)
            lat, lon, _ = geodesic_direct_batch(lat1, lon1, azi1, dist * ratios)
            return lon, lat

        return dist, at_ratio
    if metric == "rhumb":
        from geo_spark.kernels.geom2 import rhumb_destination
        from geo_spark.kernels.measures import rhumb_bearing, rhumb_distance

        def at_ratio(lon1, lat1, lon2, lat2, dist, ratios):
            brg = rhumb_bearing(lon1, lat1, lon2, lat2)
            return rhumb_destination(lon1, lat1, brg, dist * ratios)

        return rhumb_distance, at_ratio
    if metric == "euclidean":

        def dist(lon1, lat1, lon2, lat2):
            return np.hypot(
                np.asarray(lon2, dtype=np.float64) - lon1,
                np.asarray(lat2, dtype=np.float64) - lat1,
            )

        def at_ratio(lon1, lat1, lon2, lat2, dist, ratios):
            return lon1 + (lon2 - lon1) * ratios, lat1 + (lat2 - lat1) * ratios

        return dist, at_ratio
    raise ValueError(f"unknown metric: {metric}")


def densify_metric(
    coords: np.ndarray, max_segment_length: float, metric: str = "haversine"
) -> np.ndarray:
    """Densify a lon/lat polyline so no piece exceeds ``max_segment_length``
    measured in the metric space; inserted vertices lie ON the metric's
    connecting curve at equal-ratio spacing, so every piece of an original
    segment has metric length exactly seg_len/ceil(seg_len/max).

    Vectorized across all inserted points of all segments (one batch call
    into the metric kernel, no per-vertex Python loop).
    """
    if max_segment_length <= 0:
        raise ValueError("max_segment_length must be > 0")
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 2:
        return coords.copy()
    pair_distance, at_ratio = _metric_segment_fns(metric)
    a, b = coords[:-1], coords[1:]
    seg = pair_distance(a[:, 0], a[:, 1], b[:, 0], b[:, 1])
    n_splits = np.maximum(np.ceil(seg / max_segment_length).astype(np.int64), 1)
    n_inter = n_splits - 1  # intermediates per segment
    total_inter = int(n_inter.sum())
    n_out = len(coords) + total_inter
    out = np.empty((n_out, 2), dtype=np.float64)
    # output slot of each original vertex: 0, then cumulative(1 + n_inter)
    orig_pos = np.concatenate([[0], np.cumsum(1 + n_inter)])
    out[orig_pos] = coords
    if total_inter:
        seg_idx = np.repeat(np.arange(len(a)), n_inter)
        # ratio k/n for k in 1..n-1 within each segment
        k = np.arange(total_inter) - np.repeat(
            np.concatenate([[0], np.cumsum(n_inter)[:-1]]), n_inter
        ) + 1
        ratios = k / n_splits[seg_idx]
        lon, lat = at_ratio(
            a[seg_idx, 0], a[seg_idx, 1], b[seg_idx, 0], b[seg_idx, 1],
            seg[seg_idx], ratios,
        )
        inter_pos = np.setdiff1d(
            np.arange(n_out), orig_pos, assume_unique=True
        )
        out[inter_pos, 0] = lon
        out[inter_pos, 1] = lat
    return out


def segmentize_metric(
    coords: np.ndarray, n_segments: int, metric: str = "haversine"
) -> np.ndarray:
    """n+1 breakpoints splitting the polyline into n pieces of equal METRIC
    length (haversine twin of ``segmentize``; linestring_segment.rs:43).

    Breakpoints are found by walking the per-segment metric lengths and
    interpolating inside the straddling segment along the metric's curve.
    """
    if n_segments < 1:
        raise ValueError("n_segments must be >= 1")
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 2:
        return np.repeat(coords[:1], n_segments + 1, axis=0)
    pair_distance, at_ratio = _metric_segment_fns(metric)
    a, b = coords[:-1], coords[1:]
    seg = pair_distance(a[:, 0], a[:, 1], b[:, 0], b[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = float(cum[-1])
    if total == 0.0:
        return np.repeat(coords[:1], n_segments + 1, axis=0)
    targets = np.arange(1, n_segments) * (total / n_segments)
    si = np.clip(np.searchsorted(cum, targets, side="right") - 1, 0, len(seg) - 1)
    with np.errstate(invalid="ignore", divide="ignore"):
        ratios = np.where(seg[si] > 0, (targets - cum[si]) / seg[si], 0.0)
    lon, lat = at_ratio(
        a[si, 0], a[si, 1], b[si, 0], b[si, 1], seg[si], ratios
    )
    out = np.empty((n_segments + 1, 2), dtype=np.float64)
    out[0] = coords[0]
    out[-1] = coords[-1]
    out[1:-1, 0] = lon
    out[1:-1, 1] = lat
    return out


def segmentize_metric_pieces(
    coords: np.ndarray, n_segments: int, metric: str = "haversine"
) -> list:
    """n equal-METRIC-length sub-linestrings (list of (k,2) arrays), each
    retaining the original interior vertices it spans — the reference's
    MultiLineString shape (linestring_segment.rs:43,107: cut the densified
    line at cumulative-length boundaries).

    Along-path metric length of every piece is total/n exactly (breakpoints
    interpolated on the metric curve inside the straddling segment).
    """
    if n_segments < 1:
        raise ValueError("n_segments must be >= 1")
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 2 or n_segments == 1:
        return [coords.copy()]
    breaks = segmentize_metric(coords, n_segments, metric)  # n+1 breakpoints
    pair_distance, _ = _metric_segment_fns(metric)
    a, b = coords[:-1], coords[1:]
    seg = pair_distance(a[:, 0], a[:, 1], b[:, 0], b[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = float(cum[-1])
    if total == 0.0:
        return [coords[:1].repeat(2, axis=0) for _ in range(n_segments)]
    targets = np.arange(1, n_segments) * (total / n_segments)
    # index of the segment each breakpoint falls in (same rule as above)
    si = np.clip(np.searchsorted(cum, targets, side="right") - 1, 0, len(seg) - 1)
    pieces = []
    prev_pt = coords[0]
    prev_vertex = 0  # next original vertex index not yet emitted
    for p in range(n_segments - 1):
        piece = [prev_pt]
        # interior original vertices up to and including segment si[p]'s start
        end_vertex = int(si[p])  # vertices 1..end_vertex lie before the break
        for v in range(prev_vertex + 1, end_vertex + 1):
            piece.append(coords[v])
        piece.append(breaks[p + 1])
        pieces.append(np.asarray(piece, dtype=np.float64))
        prev_pt = breaks[p + 1]
        prev_vertex = end_vertex
    tail = [prev_pt] + [coords[v] for v in range(prev_vertex + 1, len(coords))]
    pieces.append(np.asarray(tail, dtype=np.float64))
    return pieces


# --- curve similarity ---------------------------------------------------------

def frechet_distance(a: np.ndarray, b: np.ndarray) -> float:
    """Discrete Fréchet distance, linear-memory DP over the coord grid."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        return 0.0
    prev = np.empty(m, dtype=np.float64)
    dists0 = np.hypot(b[:, 0] - a[0, 0], b[:, 1] - a[0, 1])
    prev[0] = dists0[0]
    for j in range(1, m):
        prev[j] = max(prev[j - 1], dists0[j])
    for i in range(1, n):
        cur = np.empty(m, dtype=np.float64)
        di = np.hypot(b[:, 0] - a[i, 0], b[:, 1] - a[i, 1])
        cur[0] = max(prev[0], di[0])
        for j in range(1, m):
            cur[j] = max(min(prev[j - 1], prev[j], cur[j - 1]), di[j])
        prev = cur
    return float(prev[-1])


def hausdorff_distance(a: np.ndarray, b: np.ndarray) -> float:
    """Symmetric coordinate-wise Hausdorff distance (max of directed max-min)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if len(a) == 0 or len(b) == 0:
        return 0.0
    dx = a[:, 0][:, None] - b[:, 0][None, :]
    dy = a[:, 1][:, None] - b[:, 1][None, :]
    d = np.hypot(dx, dy)
    return float(max(d.min(axis=1).max(), d.min(axis=0).max()))


# --- closest point -------------------------------------------------------------

def closest_point_on_line(coords: np.ndarray, px: float, py: float):
    """('intersection'|'single', x, y): nearest point on a polyline.

    'intersection' when the query point lies exactly on the line (the
    reference's Closest::Intersection), else 'single'.
    """
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) == 0:
        return None
    if len(coords) == 1:
        kind = "intersection" if (coords[0, 0] == px and coords[0, 1] == py) else "single"
        return (kind, float(coords[0, 0]), float(coords[0, 1]))
    a = coords[:-1]
    b = coords[1:]
    d = b - a
    seg_len2 = d[:, 0] ** 2 + d[:, 1] ** 2
    with np.errstate(invalid="ignore", divide="ignore"):
        t = ((px - a[:, 0]) * d[:, 0] + (py - a[:, 1]) * d[:, 1]) / np.where(
            seg_len2 == 0, 1, seg_len2
        )
    t = np.clip(np.where(seg_len2 == 0, 0.0, t), 0.0, 1.0)
    qx = a[:, 0] + t * d[:, 0]
    qy = a[:, 1] + t * d[:, 1]
    dist = np.hypot(px - qx, py - qy)
    i = int(np.argmin(dist))
    kind = "intersection" if dist[i] == 0.0 else "single"
    return (kind, float(qx[i]), float(qy[i]))


# --- convexity ------------------------------------------------------------------

def is_ring_convex(ring: np.ndarray, allow_collinear: bool = True) -> bool:
    """Whether a closed ring is convex (orientation scan, robust orient2d)."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and (ring[0] == ring[-1]).all():
        ring = ring[:-1]
    n = len(ring)
    if n < 3:
        return True
    signs = set()
    for i in range(n):
        a, b, c = ring[i], ring[(i + 1) % n], ring[(i + 2) % n]
        o = int(orient2d(a[0], a[1], b[0], b[1], c[0], c[1]))
        if o == 0:
            if not allow_collinear:
                return False
            continue
        signs.add(o)
        if len(signs) > 1:
            return False
    return True


def extremes(coords: np.ndarray):
    """(min_x_idx, min_y_idx, max_x_idx, max_y_idx) per ``extremes.rs:27``."""
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) == 0:
        return None
    return (
        int(np.argmin(coords[:, 0])),
        int(np.argmin(coords[:, 1])),
        int(np.argmax(coords[:, 0])),
        int(np.argmax(coords[:, 1])),
    )


def minimum_rotated_rect(coords: np.ndarray) -> np.ndarray:
    """Minimum-area oriented bounding rect via rotating calipers over the hull
    (``minimum_rotated_rect.rs:29`` semantics). Returns a closed 5-pt ring."""
    from geo_spark.kernels.hull import quick_hull

    coords = np.asarray(coords, dtype=np.float64)
    hull = quick_hull(coords)
    pts = hull[:-1] if len(hull) > 1 else hull
    if len(pts) <= 2:
        return hull
    best_area = np.inf
    best = None
    edges = np.diff(np.vstack([pts, pts[:1]]), axis=0)
    for e in edges:
        norm = np.hypot(e[0], e[1])
        if norm == 0:
            continue
        ux, uy = e[0] / norm, e[1] / norm
        # rotate points into edge frame
        xs = pts[:, 0] * ux + pts[:, 1] * uy
        ys = -pts[:, 0] * uy + pts[:, 1] * ux
        w = xs.max() - xs.min()
        h = ys.max() - ys.min()
        area = w * h
        if area < best_area:
            best_area = area
            x0, x1, y0, y1 = xs.min(), xs.max(), ys.min(), ys.max()
            corners = np.array(
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            )
            # rotate back
            best = np.column_stack(
                [
                    corners[:, 0] * ux - corners[:, 1] * uy,
                    corners[:, 0] * uy + corners[:, 1] * ux,
                ]
            )
    return best


def line_interpolate_point_metric(
    coords: np.ndarray, fraction: float, metric: str = "haversine"
):
    """Point at ``fraction`` of the polyline's METRIC length (the metric
    twin of ``line_interpolate_point``; InterpolateLine over a metric
    space). Returns (lon, lat) or None for empty input."""
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) == 0:
        return None
    if len(coords) == 1:
        return (float(coords[0, 0]), float(coords[0, 1]))
    f = min(max(float(fraction), 0.0), 1.0)
    if f == 0.0:
        return (float(coords[0, 0]), float(coords[0, 1]))
    if f == 1.0:
        return (float(coords[-1, 0]), float(coords[-1, 1]))
    pair_distance, at_ratio = _metric_segment_fns(metric)
    a, b = coords[:-1], coords[1:]
    seg = np.asarray(pair_distance(a[:, 0], a[:, 1], b[:, 0], b[:, 1]))
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = float(cum[-1])
    if total == 0.0:
        return (float(coords[0, 0]), float(coords[0, 1]))
    target = f * total
    si = int(np.clip(np.searchsorted(cum, [target], side="right")[0] - 1, 0, len(seg) - 1))
    with np.errstate(invalid="ignore", divide="ignore"):
        ratio = (target - cum[si]) / seg[si] if seg[si] > 0 else 0.0
    lon, lat = at_ratio(
        a[si : si + 1, 0], a[si : si + 1, 1], b[si : si + 1, 0], b[si : si + 1, 1],
        seg[si : si + 1], np.asarray([ratio]),
    )
    return (float(lon[0]), float(lat[0]))
