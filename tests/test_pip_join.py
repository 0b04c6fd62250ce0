"""End-to-end PIP join: synth documents → extract → cell join → refine.

Correctness gates:
- the join result equals a brute-force numpy sweep (every point × every
  polygon with the exact kernel);
- the text byte-identity invariant survives the pipeline;
- hole semantics: points in a polygon's hole are excluded, and hole and
  shell edges are boundary positions.

The join and hole tests run both small-side routes: the driver cover build
(polygons within the ``pip_join.polygons`` budget) and the distributed cover
build (budget 0).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_spark.operators.extract import extract_points
from geo_spark.operators.pip_join import pip_join_points_polygons
from geo_spark.sources.documents import (
    polygons_to_numpy,
    synth_admin_polygons,
    synth_documents,
)

N_DOCS = 3000

both_routes = pytest.mark.parametrize("budget", [20_000, 0], ids=["driver", "distributed"])


def _xy(p):
    return {"x": float(p[0]), "y": float(p[1])}


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def polys(spark):
    return synth_admin_polygons(spark, grid_deg=10.0).cache()


def test_extraction_counts_and_schema(docs):
    pts = extract_points(docs)
    rows = pts.count()
    # ~1/7 docs have no marker, ~(6/7)*(1/11) have two
    n_none = sum(1 for i in range(N_DOCS) if i % 7 == 3)
    n_two = sum(1 for i in range(N_DOCS) if i % 7 != 3 and i % 11 == 5)
    assert rows == (N_DOCS - n_none) + n_two
    assert set(pts.columns) == {"url", "point_idx", "lon", "lat"}
    bounds = pts.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).collect()[0]
    assert bounds[0] >= -180.0 and bounds[1] < 180.0
    assert bounds[2] >= -90.0 and bounds[3] < 90.0


def test_text_byte_identity(docs, spark):
    """The extraction pipeline must not rewrite text (input_hint invariant)."""
    before = docs.select("url", F.md5(F.col("text")).alias("h"))
    after_pipeline = extract_points(docs, keep_text=True).select(
        "url", F.md5(F.col("text")).alias("h2")
    ).dropDuplicates(["url"])
    joined = before.join(after_pipeline, "url", "inner")
    assert joined.filter(F.col("h") != F.col("h2")).count() == 0


@both_routes
def test_pip_join_matches_bruteforce(spark, docs, polys, route_budget, budget):
    route_budget("pip_join.polygons", budget)
    pts = extract_points(docs).cache()
    # the driver-side work before any action on the result: the polygon
    # fetch, plus the cover collect on the distributed route
    sc = spark.sparkContext
    group = f"pip_join_call_{budget}"
    sc.setJobGroup(group, group)
    try:
        joined = pip_join_points_polygons(pts, polys, predicate="contains")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == (1 if budget else 2)
    result = (
        joined.groupBy("polygon_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got = {r["polygon_id"]: r["n"] for r in result}

    # brute force with the numpy kernel directly
    from geo_spark.kernels.predicates import polygon_contains_point

    pts_local = pts.select("lon", "lat").toPandas()
    lon = pts_local["lon"].to_numpy()
    lat = pts_local["lat"].to_numpy()
    geoms = polygons_to_numpy(polys.collect())
    expected = {}
    for pid, (ext, holes, bbox) in geoms.items():
        inb = (lon >= bbox[0]) & (lon <= bbox[2]) & (lat >= bbox[1]) & (lat <= bbox[3])
        if not inb.any():
            continue
        c = polygon_contains_point(lon[inb], lat[inb], ext, holes)
        n = int(c.sum())
        if n:
            expected[pid] = n
    assert got == expected
    # sanity: the hotspot polygon (10-20E, 50-60N band cell) is the hottest
    assert sum(got.values()) > 0


@both_routes
def test_pip_join_hole_semantics(spark, route_budget, budget):
    # one polygon with a hole; points inside hole must be excluded
    route_budget("pip_join.polygons", budget)
    # polygon_id 0 covers [-180,-170]x[-90,-80] and has a hole at 40% inset
    one = synth_admin_polygons(spark, grid_deg=10.0).filter("polygon_id = 0")
    pts = spark.createDataFrame(
        [
            ("in_ring", -179.0, -89.0),     # inside polygon, outside hole
            ("in_hole", -175.0, -85.0),     # center → inside the hole
            ("on_hole_edge", -176.0, -85.0),
            ("on_outer_edge", -180.0, -85.0),
            ("outside", -100.0, 0.0),
        ],
        schema="url string, lon double, lat double",
    )
    got = {r["url"]: r["polygon_id"] for r in pip_join_points_polygons(pts, one).collect()}
    assert got == {"in_ring": 0}
    pos = {
        r["url"]: r["position"]
        for r in pip_join_points_polygons(pts, one, predicate="position").collect()
    }
    assert pos == {"in_ring": 1, "in_hole": -1, "on_hole_edge": 0, "on_outer_edge": 0}

    # holes of different vertex counts (a 4-vertex triangle, a 5-vertex
    # square) in one polygon: the decoder must not assume equal ring lengths
    ragged = spark.createDataFrame(
        [
            (
                7,
                [_xy(p) for p in [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]],
                [
                    [_xy(p) for p in [(1, 1), (4, 1), (1, 4), (1, 1)]],
                    [_xy(p) for p in [(6, 6), (9, 6), (9, 9), (6, 9), (6, 6)]],
                ],
                0.0, 0.0, 10.0, 10.0,
            )
        ],
        "polygon_id long, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    pts = spark.createDataFrame(
        [("in_triangle", 1.5, 1.5), ("in_square", 7.5, 7.5), ("in_shell", 5.0, 5.0)],
        schema="url string, lon double, lat double",
    )
    pos = {
        r["url"]: r["position"]
        for r in pip_join_points_polygons(pts, ragged, predicate="position").collect()
    }
    assert pos == {"in_triangle": -1, "in_square": -1, "in_shell": 1}

def test_pip_join_intersects_includes_boundary(spark):
    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=False)
    pts = spark.createDataFrame(
        [("corner", -170.0, -80.0), ("edge", -175.0, -80.0), ("inside", -175.0, -85.0)],
        schema="url string, lon double, lat double",
    )
    one = polys.filter("polygon_id = 0")
    contains = {r["url"] for r in pip_join_points_polygons(pts, one, "contains").collect()}
    covers = {r["url"] for r in pip_join_points_polygons(pts, one, "covers").collect()}
    assert contains == {"inside"}
    assert covers == {"corner", "edge", "inside"}


def test_cover_polygons_batch_matches_per_polygon():
    # the driver-side cover build now runs the batched vectorized
    # cover_polygons; it must classify exactly like the per-polygon kernel
    from geo_spark.index.cells import cover_polygon, cover_polygons

    rng = np.random.RandomState(7)
    polys = []
    for _ in range(60):
        k = rng.randint(3, 10)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(0.4, 4.0, k)
        cx, cy = rng.uniform(-160, 160), rng.uniform(-75, 75)
        ext = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
        ext = np.vstack([ext, ext[:1]])
        holes = []
        if k >= 6:
            h = ext[:-1] * 0.2 + np.asarray([[cx, cy]]) * 0.8
            holes = [np.vstack([h[::-1], h[-1:][::-1]])[: len(h) + 1]]
            holes = [np.vstack([holes[0], holes[0][:1]])]
        polys.append((ext, holes))
    for res in (5, 8):
        cells, pidx, full = cover_polygons(polys, res)
        for i, (e, hs) in enumerate(polys):
            cc, ff = cover_polygon(e, hs, res=res)
            m = pidx == i
            o1, o2 = np.argsort(cells[m]), np.argsort(cc)
            assert np.array_equal(cells[m][o1], cc[o2]), f"cells differ poly {i} res {res}"
            assert np.array_equal(full[m][o1], ff[o2]), f"full flags differ poly {i} res {res}"
