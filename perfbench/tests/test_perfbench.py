"""Self-tests of the benchmark: seeded generators, the tail-percentile rule
and the output checkers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
from stats import percentile, tail, tail_percentile  # noqa: E402


# --- generators -----------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.documents(s, 300),
        lambda s: gen.grid_polygons(s)[0],
        lambda s: gen.points(s, 500, "targets"),
    ],
    ids=["documents", "grid", "points"],
)
def test_generators_repeat_per_seed_and_differ_across_seeds(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_documents_follow_the_fixture_mix():
    docs = gen.documents(3, 20_000)
    n_markers = np.array([len(re.findall(r"geo:", t)) for t in docs.column("text").to_pylist()])
    assert abs((n_markers == 0).mean() - gen.NO_MARKER_SHARE) < 0.01
    assert abs((n_markers == 2).mean() - gen.TWO_MARKER_SHARE) < 0.01
    lon, lat = gen.coords_md(gen.rng_for(3, "x"), 20_000)
    hot = (lon // gen.MICRO == 10) & (lat // gen.MICRO == 50)
    assert abs(hot.mean() - gen.HOT_SHARE) < 0.01


def test_query_sets_have_exactly_the_hot_share_and_differ_per_iteration():
    sets = [gen.points(3, 100, f"queries{i}", block=100) for i in range(10)]
    for pts in sets:
        lon, lat = pts.column("lon").to_numpy(), pts.column("lat").to_numpy()
        assert ((np.floor(lon) == 10) & (np.floor(lat) == 50)).sum() == 25
    assert len({pts.column("lon").to_numpy().tobytes() for pts in sets}) == len(sets)


# --- tail percentile ------------------------------------------------------


@pytest.mark.parametrize("n,p", [(5, None), (10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        values = list(range(n))
        v = percentile(values, p)
        assert sum(x > v for x in values) >= 10
        # one percentile higher would leave fewer than ten beyond (below p99)
        if p < 99:
            assert sum(x > percentile(values, p + 1) for x in values) < 10 or tail_percentile(n) == 99


def test_tail_reports_percentile_and_count():
    assert tail([1.0] * 10) is None
    t = tail([float(x) for x in range(40)])
    assert t == {"p": 75, "n": 40, "value": 29.0}


# --- checkers -------------------------------------------------------------


def _dropped(d: dict) -> dict:
    d = dict(d)
    d.pop(next(iter(d)))
    return d


def test_grid_checker_matches_a_plain_recount_and_rejects_corruption(tmp_path):
    docs = gen.documents(5, 3_000)
    grid, holed = gen.grid_polygons(5)
    gen.write(docs, str(tmp_path / "docs"), files=2)
    gen.write(grid, str(tmp_path / "grid"))
    want = check.grid_counts(str(tmp_path / "docs/*.parquet"), str(tmp_path / "grid/*.parquet"))

    # the same answer from a plain Python pass over the markers
    recount: dict[int, int] = {}
    g = gen.GRID_DEG * gen.MICRO
    for text in docs.column("text").to_pylist():
        for lat, lon in re.findall(r"geo:(-?\d+),(-?\d+)", text):
            dx, dy = int(lon) + 180 * gen.MICRO, int(lat) + 90 * gen.MICRO
            pid = (dy // g) * 36 + dx // g
            hx, hy = dx % g, dy % g
            lo, hi = gen.HOLE_INSET_DEG * gen.MICRO, (gen.GRID_DEG - gen.HOLE_INSET_DEG) * gen.MICRO
            if holed[pid] and lo <= hx <= hi and lo <= hy <= hi:
                continue
            recount[pid] = recount.get(pid, 0) + 1
    assert want == recount
    assert check.compare_counts(want, want) == []

    assert check.compare_counts(_dropped(want), want)
    moved = dict(want)
    a, b = sorted(moved)[:2]
    moved[a] -= 1
    moved[b] += 1
    assert check.compare_counts(moved, want)


@pytest.fixture(scope="module")
def proximity():
    def as_dict(t):
        return {"id": t.column("pid").to_numpy(), "lon": t.column("lon").to_numpy(), "lat": t.column("lat").to_numpy()}

    t = as_dict(gen.points(2, 3_000, "targets"))
    queries = as_dict(gen.points(2, 40, "queries"))

    def dist(q, tid):
        a = int(np.flatnonzero(queries["id"] == q)[0])
        return float(check.haversine_np(queries["lon"][a], queries["lat"][a], t["lon"][tid], t["lat"][tid]))

    return check.Targets(t["id"], t["lon"], t["lat"]), queries, dist


def test_banded_truth_equals_the_full_brute_force(proximity):
    targets, queries, dist = proximity
    truth = check.knn_truth(queries, targets, 3)
    for q in queries["id"].tolist():
        full = sorted((dist(q, t), t) for t in range(3_000))[:5]
        assert [t for _, t in truth[q]] == [t for _, t in full]
    pairs = check.range_truth(queries, targets, 400_000.0)
    assert set(pairs) == {(q, t) for q in queries["id"].tolist() for t in range(3_000) if dist(q, t) <= 400_000.001}


def test_haversine_matches_a_known_distance():
    # Sofia -> Plovdiv (FIXTURES.md 4d)
    d = check.haversine_np(23.319941, 42.698334, 24.742168, 42.136097)
    assert abs(d - 132433.09929460194) < 1e-6


def test_knn_checker_rejects_corruption(proximity):
    targets, queries, dist = proximity
    truth = check.knn_truth(queries, targets, 3)
    got = [(q, t, d) for q, rows in truth.items() for d, t in rows[:3]]
    assert check.compare_knn(got, truth, 3, dist) == []
    assert check.compare_knn(got[1:], truth, 3, dist)
    # the nearest neighbour of one query replaced by its 4th nearest
    q0 = got[0][0]
    d4, t4 = truth[q0][3]
    assert check.compare_knn([(q0, t4, d4)] + got[1:], truth, 3, dist)


def test_range_checker_rejects_corruption(proximity):
    targets, queries, dist = proximity
    limit = 400_000.0
    truth = check.range_truth(queries, targets, limit)
    got = [(a, b, d) for (a, b), d in truth.items() if d <= limit]
    assert len(got) > 1
    assert check.compare_range(got, truth, limit) == []
    assert check.compare_range(got[1:], truth, limit)
    # one target moved out of range of its query
    a, b, _ = got[0]
    far = next(t for t in range(3_000) if dist(a, t) > 2 * limit)
    assert check.compare_range([(a, far, dist(a, far))] + got[1:], truth, limit)


def test_tile_checker_rejects_corruption(tmp_path):
    files = []
    for k in range(3):
        p = str(tmp_path / f"d{k}.parquet")
        pq.write_table(gen.documents(6, 3_000, first_id=k * 3_000, stream=f"tiles{k}"), p)
        files.append(p)
    want = check.tile_counts(files, 4, 3600)
    lo, hi = gen.T0 + 2 * 2_999 - 7200, gen.T0 + 2 * 5_999 - 7200
    closed = {k: v for k, v in want.items() if lo < k[0] + 3600 <= hi}
    assert closed

    def tile(ix, iy):
        z = 0
        for b in range(26):
            z |= ((ix >> b) & 1) << (2 * b) | ((iy >> b) & 1) << (2 * b + 1)
        return (4 << 52) | z

    rows = [(ws, tile(ix, iy), n) for (ws, ix, iy), n in closed.items()]
    assert check.compare_tiles(rows, want, 3600, lo, hi) == []
    assert check.compare_tiles(rows[1:], want, 3600, lo, hi)
    # one document moved into the next window
    ws, t, n = rows[0]
    moved = [(ws, t, n - 1), (ws + 3600, t, 1)] + rows[1:]
    assert check.compare_tiles(moved, want, 3600, lo, hi)


# --- BENCHMARK.json -------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    import json

    import run
    from workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"], m["better"]) for m in spec[key]] == [(k, u, b) for k, (u, b) in table.items()]
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
