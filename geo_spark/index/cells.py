"""Deterministic Z-order (Morton) cell index over lon/lat.

Plays the role H3/S2 plays in the north-star design: a hierarchical,
integer-keyed spatial grid used for

- equi-join candidate generation (points ⋈ polygon covering cells),
- kNN ring expansion (``disk_cells``; the Spark-side twin is
  ``functions.neighbor_cells``),
- tile assignment and rollup (parent = drop 2 bits per level, the Spark-side
  ``shiftright(cell, 2*(maxres-res))`` trick),
- range partitioning (``repartitionByRange`` on the cell id gives spatial
  locality, the same effect as the reference's packed STR-style sorted
  ranges — ``indexed/interval_tree_multipolygon.rs`` ordering, re-expressed
  as a key ordering instead of an in-memory tree).

Layout of a cell id (int64): ``(res << 52) | zorder`` with res ≤ 26 and
zorder the bit-interleave of the 26-bit x/y grid indices. Resolution r
splits lon [-180, 180] × lat [-90, 90] into 2^r × 2^r cells.

Everything is vectorized numpy; no external H3/S2 dependency (parity does
not require a specific cell shape, only determinism — SURVEY.md §2.7).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
_Z_BITS = 52


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 26 bits of v into even bit positions (uint64)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _squash_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: gather even bit positions into the low bits."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def _grid_index(lon, lat, res: int):
    n = np.int64(1) << np.int64(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(ix, 0, n - 1, out=ix)
    np.clip(iy, 0, n - 1, out=iy)
    return ix, iy


def _from_grid(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    z = _spread_bits(ix.astype(np.uint64)) | (_spread_bits(iy.astype(np.uint64)) << np.uint64(1))
    return ((np.uint64(res) << np.uint64(_Z_BITS)) | z).astype(np.int64)


def cell_encode(lon, lat, res: int) -> np.ndarray:
    """lon/lat arrays → int64 cell ids at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix, iy = _grid_index(lon, lat, res)
    return _from_grid(ix, iy, res)


def cell_decode(cells) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (res, ix, iy)."""
    c = np.asarray(cells, dtype=np.int64).astype(np.uint64)
    res = (c >> np.uint64(_Z_BITS)).astype(np.int64)
    z = c & np.uint64((1 << _Z_BITS) - 1)
    ix = _squash_bits(z).astype(np.int64)
    iy = _squash_bits(z >> np.uint64(1)).astype(np.int64)
    return res, ix, iy


def cell_parent(cells, steps: int = 1) -> np.ndarray:
    """Parent cell id ``steps`` levels up (tile rollup)."""
    res, ix, iy = cell_decode(cells)
    new_res = res - steps
    if (new_res < 0).any():
        raise ValueError("cannot take parent above resolution 0")
    return _from_grid(ix >> steps, iy >> steps, int(new_res[0]) if new_res.ndim else int(new_res))


def cover_bbox(xmin, ymin, xmax, ymax, res: int) -> np.ndarray:
    """All cells at ``res`` whose rect intersects the bbox (conservative)."""
    n = np.int64(1) << np.int64(res)
    ix0 = int(np.clip(np.floor((xmin + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((xmax + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((ymin + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((ymax + 90.0) / 180.0 * n), 0, n - 1))
    gx, gy = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return _from_grid(gx.ravel(), gy.ravel(), res)


def pick_cover_res(xmin, ymin, xmax, ymax, max_cells: int = 64, max_res: int = 16) -> int:
    """Finest resolution whose bbox cover stays under ``max_cells`` cells."""
    for res in range(max_res, -1, -1):
        n = 1 << res
        nx = int((xmax + 180.0) / 360.0 * n) - int((xmin + 180.0) / 360.0 * n) + 1
        ny = int((ymax + 90.0) / 180.0 * n) - int((ymin + 90.0) / 180.0 * n) + 1
        if nx * ny <= max_cells:
            return res
    return 0


def cover_polygon(exterior, interiors=(), res: int = 8, classify: bool = True):
    """Cells at ``res`` intersecting the polygon: (cells, full_flags).

    ``full_flags[i]`` is True when the cell rect lies entirely in the polygon
    interior — points joining through a *full* cell skip the exact PIP refine
    (the distributed analogue of the reference's interior-shortcut in
    ``interval_tree_multipolygon.rs:153-158``). Classification is exact:

    - a cell is DISJOINT when no ring segment intersects the rect and the
      rect center is outside the polygon;
    - a cell is FULL when no ring segment intersects the rect and the rect
      center is strictly inside (then all of it is);
    - otherwise PARTIAL (kept with full=False).
    """
    from geo_spark.kernels.area import bounding_rect
    from geo_spark.kernels.predicates import polygon_position, INSIDE

    ext = np.asarray(exterior, dtype=np.float64)
    bb = bounding_rect(ext)
    cells = cover_bbox(bb[0], bb[1], bb[2], bb[3], res)
    if not classify:
        return cells, np.zeros(len(cells), dtype=bool)

    res_a, ix, iy = cell_decode(cells)
    n = 1 << res
    w = 360.0 / n
    h = 180.0 / n
    cxmin = -180.0 + ix * w
    cymin = -90.0 + iy * h
    cxmax = cxmin + w
    cymax = cymin + h

    # does any ring segment intersect each cell rect?
    rings = [ext] + [np.asarray(hh, dtype=np.float64) for hh in interiors]
    seg_hits = np.zeros(len(cells), dtype=bool)
    for ring in rings:
        sx, sy = ring[:-1, 0], ring[:-1, 1]
        ex, ey = ring[1:, 0], ring[1:, 1]
        sxlo = np.minimum(sx, ex)
        sxhi = np.maximum(sx, ex)
        sylo = np.minimum(sy, ey)
        syhi = np.maximum(sy, ey)
        # conservative: segment bbox vs cell rect overlap (over-approximates
        # "segment crosses cell" — safe: may mark a FULL/DISJOINT cell PARTIAL)
        hit = (
            (sxlo[None, :] <= cxmax[:, None])
            & (sxhi[None, :] >= cxmin[:, None])
            & (sylo[None, :] <= cymax[:, None])
            & (syhi[None, :] >= cymin[:, None])
        ).any(axis=1)
        seg_hits |= hit

    centers_x = (cxmin + cxmax) / 2.0
    centers_y = (cymin + cymax) / 2.0
    pos = polygon_position(centers_x, centers_y, ext, interiors)
    keep = seg_hits | (pos == INSIDE)
    full = (~seg_hits) & (pos == INSIDE)
    return cells[keep], full[keep]


def cover_polygons(polys, res: int):
    """Batched ``cover_polygon`` over many polygons — one vectorized pass.

    ``polys``: sequence of ``(exterior, interiors)`` with numpy-coercible
    rings. Returns ``(cells, poly_idx, full)`` flat arrays (same
    classification as ``cover_polygon``, parity-tested). The per-polygon
    loop version costs ~60 small-array numpy dispatches per polygon
    (~0.4 ms); at admin-table scale (hundreds to thousands of polygons,
    rebuilt per query) that serial driver cost dominates the whole cover
    build, so the bbox walk and the segment-bbox classification here run
    over all polygons' cells at once. Only the exact center-position check
    remains per-polygon (the winding kernel is per-polygon by nature), on
    the contiguous cell slice of polygons that still have unclassified
    cells.
    """
    from geo_spark.kernels.predicates import INSIDE, polygon_position

    S = len(polys)
    if S == 0:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=bool),
        )
    exts = [np.asarray(e, dtype=np.float64) for e, _ in polys]
    holes_l = [
        [np.asarray(h, dtype=np.float64) for h in (hs or [])] for _, hs in polys
    ]
    # per-polygon bboxes (ragged min/max via reduceat on the concatenation)
    nv = np.asarray([len(e) for e in exts], dtype=np.int64)
    allv = np.concatenate(exts, axis=0)
    vstart = np.concatenate([[0], np.cumsum(nv)[:-1]])
    bxmin = np.minimum.reduceat(allv[:, 0], vstart)
    bxmax = np.maximum.reduceat(allv[:, 0], vstart)
    bymin = np.minimum.reduceat(allv[:, 1], vstart)
    bymax = np.maximum.reduceat(allv[:, 1], vstart)

    n = np.int64(1) << np.int64(res)
    ix0 = np.clip(np.floor((bxmin + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ix1 = np.clip(np.floor((bxmax + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy0 = np.clip(np.floor((bymin + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    iy1 = np.clip(np.floor((bymax + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    c = nx * ny
    ncells = int(c.sum())
    cstart = np.concatenate([[0], np.cumsum(c)[:-1]])
    pidx = np.repeat(np.arange(S, dtype=np.int64), c)
    jloc = np.arange(ncells, dtype=np.int64) - cstart[pidx]
    # cover_bbox uses meshgrid(indexing="ij"): x-major order
    ix = ix0[pidx] + jloc // ny[pidx]
    iy = iy0[pidx] + jloc % ny[pidx]

    w = 360.0 / float(n)
    h = 180.0 / float(n)
    cxmin = -180.0 + ix * w
    cymin = -90.0 + iy * h
    cxmax = cxmin + w
    cymax = cymin + h

    # all ring segments of all polygons, tagged by polygon
    seg_arrs = []
    nseg = np.zeros(S, dtype=np.int64)
    for i in range(S):
        rings = [exts[i]] + holes_l[i]
        segs = [
            np.stack([r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]], axis=1)
            for r in rings
            if len(r) >= 2
        ]
        if segs:
            a = np.concatenate(segs, axis=0)
            seg_arrs.append(a)
            nseg[i] = len(a)
    if seg_arrs:
        sall = np.concatenate(seg_arrs, axis=0)
        sxlo = np.minimum(sall[:, 0], sall[:, 2])
        sxhi = np.maximum(sall[:, 0], sall[:, 2])
        sylo = np.minimum(sall[:, 1], sall[:, 3])
        syhi = np.maximum(sall[:, 1], sall[:, 3])
    else:
        sxlo = sxhi = sylo = syhi = np.empty(0, dtype=np.float64)
    sstart = np.concatenate([[0], np.cumsum(nseg)[:-1]])

    # (cell, segment-of-its-polygon) pair expansion
    ns_per_cell = nseg[pidx]
    npairs = int(ns_per_cell.sum())
    pair_cell = np.repeat(np.arange(ncells, dtype=np.int64), ns_per_cell)
    pstart = np.concatenate([[0], np.cumsum(ns_per_cell)[:-1]])
    pair_loc = np.arange(npairs, dtype=np.int64) - np.repeat(pstart, ns_per_cell)
    pair_seg = np.repeat(sstart[pidx], ns_per_cell) + pair_loc
    hit = (
        (sxlo[pair_seg] <= cxmax[pair_cell])
        & (sxhi[pair_seg] >= cxmin[pair_cell])
        & (sylo[pair_seg] <= cymax[pair_cell])
        & (syhi[pair_seg] >= cymin[pair_cell])
    )
    seg_hits = np.zeros(ncells, dtype=bool)
    if npairs:
        seg_hits = np.bincount(pair_cell[hit], minlength=ncells) > 0

    # exact center test only for cells with no segment hit (FULL vs DISJOINT)
    inside = np.zeros(ncells, dtype=bool)
    centers_x = cxmin + w / 2.0
    centers_y = cymin + h / 2.0
    for i in range(S):
        lo, hi = int(cstart[i]), int(cstart[i] + c[i])
        sl = slice(lo, hi)
        todo = ~seg_hits[sl]
        if not todo.any():
            continue
        idx = np.flatnonzero(todo) + lo
        pos = polygon_position(centers_x[idx], centers_y[idx], exts[i], holes_l[i])
        inside[idx] = pos == INSIDE

    keep = seg_hits | inside
    full = (~seg_hits) & inside
    cells = _from_grid(ix[keep], iy[keep], res)
    return cells, pidx[keep], full[keep]


def disk_cells(cells, k: int) -> tuple[np.ndarray, np.ndarray]:
    """For each input cell, all cells within Chebyshev distance ``k``.

    Returns (repeated_input_index, neighbor_cell) pairs — vectorized, ready
    to become an exploded join key column.
    """
    cells = np.asarray(cells, dtype=np.int64)
    res, ix, iy = cell_decode(cells)
    if len(cells) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    r = int(res[0])
    n = 1 << r
    side = 2 * k + 1
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1), indexing="ij")
    dx = dx.ravel()
    dy = dy.ravel()
    xs = (ix[:, None] + dx[None, :]) % n
    ys = iy[:, None] + dy[None, :]
    valid = (ys >= 0) & (ys < n)
    src = np.repeat(np.arange(len(cells), dtype=np.int64), side * side)[valid.ravel()]
    out = _from_grid(xs[valid].astype(np.int64), ys[valid].astype(np.int64), r)
    return src, out
