"""Area / centroid / bounding-rect / winding kernels.

Behavior parity targets:

- shoelace with first-coordinate shift for numerical stability
  (``geo/src/algorithm/area.rs:23-52`` ``sum_line_determinants``): every
  coordinate is translated by the first ring coordinate before the
  determinant sum, and the first/last line determinants (always zero after
  the shift) are skipped;
- polygon signed area keeps the exterior's sign and subtracts |hole| areas
  (``area.rs:137-158``);
- winding order: CCW iff signed ring area > 0 (``winding_order.rs`` uses the
  same shoelace sign);
- centroid is the dimension-weighted centroid (``centroid.rs:36``): polygons
  use the area-weighted formula on shifted coordinates, lines use
  length-weighted midpoints, points average.
"""

from __future__ import annotations

import numpy as np


def _ring_arr(ring) -> np.ndarray:
    ring = np.asarray(ring, dtype=np.float64)
    if ring.ndim != 2 or ring.shape[1] != 2:
        raise ValueError(f"ring must be (m, 2), got {ring.shape}")
    return ring


def twice_signed_ring_area(ring) -> float:
    """2x signed area of a closed ring; 0 for open/degenerate input."""
    ring = _ring_arr(ring)
    if len(ring) < 3:
        return 0.0
    if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
        return 0.0
    shifted = ring - ring[0]
    # skip first and last line (zero after shift); sequential determinant sum
    x = shifted[1:-1, 0]
    y = shifted[1:-1, 1]
    return float(np.sum(x[:-1] * y[1:] - y[:-1] * x[1:]))


def ring_signed_area(ring) -> float:
    return twice_signed_ring_area(ring) / 2.0


def ring_is_ccw(ring) -> bool:
    return twice_signed_ring_area(ring) > 0.0


def polygon_signed_area(exterior, interiors=()) -> float:
    """Sign follows the exterior; holes subtract their absolute area."""
    area = ring_signed_area(exterior)
    is_negative = area < 0.0
    total = abs(area)
    for hole in interiors:
        total -= abs(ring_signed_area(hole))
    return -total if is_negative else total


def polygon_unsigned_area(exterior, interiors=()) -> float:
    return abs(polygon_signed_area(exterior, interiors))


def pieces_area(pieces) -> float:
    """Unsigned area of (exterior, holes) pieces — a multipolygon: Σ over
    pieces of |exterior| − Σ|holes| (``area.rs`` MultiPolygon), accumulated
    piece by piece, exterior before its holes."""
    total = 0.0
    for ext, holes in pieces:
        total += abs(ring_signed_area(ext))
        for h in holes:
            total -= abs(ring_signed_area(h))
    return total


def ring_centroid(ring) -> tuple[float, float] | None:
    """Area-weighted centroid of one closed ring (shifted for stability)."""
    ring = _ring_arr(ring)
    if len(ring) < 4:
        return None
    shifted = ring - ring[0]
    x0, y0 = shifted[:-1, 0], shifted[:-1, 1]
    x1, y1 = shifted[1:, 0], shifted[1:, 1]
    cross = x0 * y1 - x1 * y0
    a2 = float(np.sum(cross))
    if a2 == 0.0:
        return None
    cx = float(np.sum((x0 + x1) * cross)) / (3.0 * a2) + ring[0, 0]
    cy = float(np.sum((y0 + y1) * cross)) / (3.0 * a2) + ring[0, 1]
    return cx, cy


def polygon_centroid(exterior, interiors=()) -> tuple[float, float] | None:
    """Area-weighted polygon centroid with hole subtraction.

    Matches the dimension-weighted semantics of ``centroid.rs``: a polygon
    with zero area degrades to the line-weighted centroid of its exterior.
    """
    ext = _ring_arr(exterior)
    a_ext = ring_signed_area(ext)
    if a_ext == 0.0:
        return linestring_centroid(ext)
    c_ext = ring_centroid(ext)
    num_x = c_ext[0] * abs(a_ext)
    num_y = c_ext[1] * abs(a_ext)
    denom = abs(a_ext)
    for hole in interiors:
        a_h = abs(ring_signed_area(hole))
        if a_h == 0.0:
            continue
        c_h = ring_centroid(hole)
        num_x -= c_h[0] * a_h
        num_y -= c_h[1] * a_h
        denom -= a_h
    if denom == 0.0:
        return linestring_centroid(ext)
    return num_x / denom, num_y / denom


def linestring_centroid(coords) -> tuple[float, float] | None:
    """Length-weighted centroid of segment midpoints (``centroid.rs:90-110``).

    Zero-length lines degrade to the mean of the coordinates.
    """
    coords = _ring_arr(coords)
    if len(coords) == 0:
        return None
    if len(coords) == 1:
        return float(coords[0, 0]), float(coords[0, 1])
    seg = coords[1:] - coords[:-1]
    lengths = np.hypot(seg[:, 0], seg[:, 1])
    total = float(np.sum(lengths))
    if total == 0.0:
        return float(np.mean(coords[:, 0])), float(np.mean(coords[:, 1]))
    mid = (coords[1:] + coords[:-1]) / 2.0
    return (
        float(np.sum(mid[:, 0] * lengths)) / total,
        float(np.sum(mid[:, 1] * lengths)) / total,
    )


def multipoint_centroid(coords) -> tuple[float, float] | None:
    coords = _ring_arr(coords)
    if len(coords) == 0:
        return None
    return float(np.mean(coords[:, 0])), float(np.mean(coords[:, 1]))


def bounding_rect(coords) -> tuple[float, float, float, float] | None:
    """(xmin, ymin, xmax, ymax) of a coordinate array (``bounding_rect.rs:8``)."""
    coords = _ring_arr(coords)
    if len(coords) == 0:
        return None
    return (
        float(np.min(coords[:, 0])),
        float(np.min(coords[:, 1])),
        float(np.max(coords[:, 0])),
        float(np.max(coords[:, 1])),
    )


def euclidean_length(coords) -> float:
    """Sum of planar segment lengths."""
    coords = _ring_arr(coords)
    if len(coords) < 2:
        return 0.0
    seg = coords[1:] - coords[:-1]
    return float(np.sum(np.hypot(seg[:, 0], seg[:, 1])))


def centroid_phases(pts, lines, polys):
    """Dimension-phase centroid over mixed components — the reference's
    GeometryCollection rule (``centroid.rs:36`` highest-dimension weighting /
    JTS Centroid.java): area-weighted if any member has area; else
    length-weighted over all segments (lines AND zero-area rings); else the
    average of Point members plus the first points of zero-length sequences.

    ``pts``: [(x, y)], ``lines``: [np (n,2)], ``polys``: [(ext, holes)].
    Returns (x, y) or None for the empty collection. Certified by the JTS
    conformance corpus (tools/jts_runner.py delegates here).
    """
    num_x = num_y = total_a = 0.0
    for ext, holes in polys:
        c = polygon_centroid(ext, holes)
        w = abs(polygon_signed_area(ext, holes))
        if c is not None and w > 0:
            num_x += c[0] * w
            num_y += c[1] * w
            total_a += w
    if total_a > 0:
        return (num_x / total_a, num_y / total_a)
    seqs = list(lines) + [r for ext, holes in polys for r in [ext] + list(holes)]
    num_x = num_y = total_l = 0.0
    pt_acc = list(pts)
    for seq in seqs:
        seq = _ring_arr(seq) if not isinstance(seq, np.ndarray) else np.asarray(seq, float)
        w = euclidean_length(seq)
        if w > 0:
            c = linestring_centroid(seq)
            num_x += c[0] * w
            num_y += c[1] * w
            total_l += w
        elif len(seq):
            pt_acc.append((float(seq[0, 0]), float(seq[0, 1])))
    if total_l > 0:
        return (num_x / total_l, num_y / total_l)
    if pt_acc:
        arr = np.asarray(pt_acc, float)
        return (float(arr[:, 0].mean()), float(arr[:, 1].mean()))
    return None
