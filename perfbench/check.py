"""Independent answers for every workload, and the comparisons against them.

Nothing here imports geo_spark. The grid join and the tile counts are
recomputed with DuckDB straight from the generated parquet; the kNN and
range joins by numpy brute force over every target. Each ``compare_*``
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import duckdb
import numpy as np

from gen import GRID_DEG, HOLE_INSET_DEG, MICRO

EARTH_R = 6371008.8  # mean earth radius in metres
MARKER_SQL = r"'geo:(-?\d+),(-?\d+)'"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    return con


def _markers_sql(files) -> str:
    """(doc_id, warc_ts, lat_md, lon_md) for every marker in the document
    parquet ``files`` (a glob or a list of paths)."""
    return f"""
        WITH m AS (
            SELECT doc_id, warc_ts,
                   unnest(regexp_extract_all(text, {MARKER_SQL}, 0)) AS mk
            FROM read_parquet({files!r})
        )
        SELECT doc_id, warc_ts,
               CAST(regexp_extract(mk, {MARKER_SQL}, 1) AS BIGINT) AS lat_md,
               CAST(regexp_extract(mk, {MARKER_SQL}, 2) AS BIGINT) AS lon_md
        FROM m
    """


def grid_counts(docs_glob: str, grid_glob: str) -> dict[int, int]:
    """Points strictly inside each 10-degree square and outside its hole."""
    g, a, b = GRID_DEG * MICRO, HOLE_INSET_DEG * MICRO, (GRID_DEG - HOLE_INSET_DEG) * MICRO
    rows = _con().execute(
        f"""
        WITH p AS ({_markers_sql(docs_glob)}),
        c AS (
            SELECT (lat_md + 90 * {MICRO}) // {g} * {360 // GRID_DEG} + (lon_md + 180 * {MICRO}) // {g} AS pid,
                   (lon_md + 180 * {MICRO}) % {g} AS dx, (lat_md + 90 * {MICRO}) % {g} AS dy
            FROM p
        )
        SELECT c.pid, count(*)::BIGINT
        FROM c JOIN read_parquet('{grid_glob}') poly ON poly.polygon_id = c.pid
        WHERE dx <> 0 AND dy <> 0
          AND NOT (len(poly.interiors) > 0 AND dx BETWEEN {a} AND {b} AND dy BETWEEN {a} AND {b})
        GROUP BY c.pid
        """
    ).fetchall()
    return {int(p): int(n) for p, n in rows}


def compare_counts(got: dict[int, int], want: dict[int, int]) -> list[str]:
    problems = []
    for pid in sorted(set(got) | set(want)):
        if got.get(pid, 0) != want.get(pid, 0):
            problems.append(f"polygon {pid}: got {got.get(pid, 0)}, want {want.get(pid, 0)}")
    return problems


def haversine_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in metres, broadcasting over numpy arrays."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class Targets:
    """Target points sorted by latitude. Great-circle distance is at least
    the latitude difference times the radius, so only a latitude band can
    hold the points within a given distance of a query."""

    def __init__(self, ids, lon, lat):
        order = np.argsort(lat, kind="stable")
        self.id, self.lon, self.lat = ids[order], lon[order], lat[order]

    def band(self, lon: float, lat: float, radius_m: float) -> tuple[np.ndarray, np.ndarray]:
        """(indices, distances) of every target that can lie within
        ``radius_m`` of (lon, lat): those in the latitude band it spans."""
        h = np.degrees(radius_m / EARTH_R) * (1 + 1e-9) + 1e-9
        idx = np.arange(np.searchsorted(self.lat, lat - h, "left"), np.searchsorted(self.lat, lat + h, "right"))
        return idx, haversine_np(lon, lat, self.lon[idx], self.lat[idx])


def knn_truth(queries: dict, targets: Targets, k: int) -> dict[int, list[tuple[float, int]]]:
    """Brute force: for each query the k+2 nearest (dist, tid), nearest
    first. The search band doubles until its (k+2)-th distance lies inside
    it, so nothing outside the band can be nearer."""
    n = min(k + 2, len(targets.id))
    out = {}
    for qid, lon, lat in zip(queries["id"].tolist(), queries["lon"].tolist(), queries["lat"].tolist()):
        radius = 100_000.0
        while True:
            idx, d = targets.band(lon, lat, radius)
            if len(idx) >= n:
                near = np.argpartition(d, n - 1)[:n]
                if d[near].max() <= radius or len(idx) == len(targets.id):
                    break
            radius *= 2
        out[qid] = sorted((float(d[j]), int(targets.id[idx[j]])) for j in near)
    return out


def range_truth(left: dict, targets: Targets, max_dist: float) -> dict[tuple[int, int], float]:
    """Brute force: every (lid, rid) within ``max_dist`` plus a margin."""
    out = {}
    for lid, lon, lat in zip(left["id"].tolist(), left["lon"].tolist(), left["lat"].tolist()):
        idx, d = targets.band(lon, lat, max_dist + 1e-3)
        for j in np.flatnonzero(d <= max_dist + 1e-3).tolist():
            out[(lid, int(targets.id[idx[j]]))] = float(d[j])
    return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 + 1e-9 * abs(b)


def compare_knn(got: list[tuple[int, int, float]], truth: dict, k: int, target_dist) -> list[str]:
    """``got``: (qid, tid, dist) rows; ``target_dist(qid, tid)`` the true
    distance. Exact up to floating-point ties: a returned neighbour must be
    at its true distance, and any true neighbour left out must be no nearer
    than the k-th returned one."""
    problems = []
    by_q: dict[int, list] = {}
    for qid, tid, dist in got:
        by_q.setdefault(int(qid), []).append((float(dist), int(tid)))
    for qid in sorted(set(by_q) | set(truth)):
        rows = sorted(by_q.get(qid, []))
        want = truth.get(qid, [])[:k]
        if len(rows) != len(want):
            problems.append(f"query {qid}: {len(rows)} neighbours, want {len(want)}")
            continue
        for dist, tid in rows:
            true_d = target_dist(qid, tid)
            if not _close(dist, true_d):
                problems.append(f"query {qid}: target {tid} at {dist}, true distance {true_d}")
        got_ids = {t for _, t in rows}
        kth = rows[-1][0] if rows else 0.0
        for dist, tid in want:
            if tid not in got_ids and not _close(dist, kth) and dist < kth:
                problems.append(f"query {qid}: missing target {tid} at {dist} (k-th returned {kth})")
    return problems


def compare_range(got: list[tuple[int, int, float]], truth: dict, max_dist: float) -> list[str]:
    problems = []
    got_pairs = {(int(a), int(b)): float(d) for a, b, d in got}
    if len(got_pairs) != len(got):
        problems.append(f"{len(got) - len(got_pairs)} duplicate pairs")
    for pair, d in got_pairs.items():
        true_d = truth.get(pair)
        if true_d is None or not _close(d, true_d):
            problems.append(f"pair {pair}: got {d}, true distance {true_d} (limit {max_dist})")
    for pair, d in truth.items():
        if pair not in got_pairs and d <= max_dist and not _close(d, max_dist):
            problems.append(f"pair {pair} at {d} missing (limit {max_dist})")
    return problems


def tile_counts(docs_files: list[str], res: int, window_s: int) -> dict[tuple[int, int, int], int]:
    """{(window_start_epoch_s, ix, iy): n} over the given document files."""
    n = 1 << res
    rows = _con().execute(
        f"""
        WITH p AS ({_markers_sql(list(docs_files))})
        SELECT epoch(warc_ts)::BIGINT // {window_s} * {window_s} AS ws,
               least((lon_md + 180 * {MICRO}) * {n} // (360 * {MICRO}), {n - 1}) AS ix,
               least((lat_md + 90 * {MICRO}) * {n} // (180 * {MICRO}), {n - 1}) AS iy,
               count(*)::BIGINT
        FROM p GROUP BY ALL
        """
    ).fetchall()
    return {(int(w), int(x), int(y)): int(c) for w, x, y, c in rows}


def decode_tile(cell: int) -> tuple[int, int]:
    """(ix, iy) of a Z-order tile id: x in the even bits, y in the odd bits
    of the low 52 bits (the resolution sits above them)."""
    z = cell & ((1 << 52) - 1)
    ix = iy = 0
    for b in range(26):
        ix |= ((z >> (2 * b)) & 1) << b
        iy |= ((z >> (2 * b + 1)) & 1) << b
    return ix, iy


def compare_tiles(got_rows, want: dict, window_s: int, lo_end: float, hi_end: float) -> list[str]:
    """``got_rows``: (window_start_s, tile, n) the sink received in one
    iteration. It must hold exactly the windows that closed in it: those
    whose end lies in (lo_end, hi_end]."""
    got: dict = {}
    for ws, tile, n in got_rows:
        key = (int(ws), *decode_tile(int(tile)))
        if key in got:
            return [f"window/tile {key} emitted twice"]
        got[key] = int(n)
    expect = {k: v for k, v in want.items() if lo_end < k[0] + window_s <= hi_end}
    problems = []
    for key in sorted(set(got) | set(expect)):
        if got.get(key) != expect.get(key):
            problems.append(f"window/tile {key}: got {got.get(key)}, want {expect.get(key)}")
    return problems


