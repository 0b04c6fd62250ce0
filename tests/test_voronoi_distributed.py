"""Distributed Voronoi (tile+halo certificate construction): exact parity
with the single-task kernel path, grouped diagrams, degenerate inputs, and
the no-single-task plan property."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _rings(rows, key=lambda r: r["site_id"]):
    return {
        key(r): np.array([(c["x"], c["y"]) for c in r["cell_ring"]], dtype=float)
        for r in rows
    }


def _same_ring(a, b, atol=1e-9):
    # closed rings may start at a different vertex (pass-2 clip order)
    if len(a) != len(b):
        return False
    if len(a) == 0:
        return True
    a, b = a[:-1], b[:-1]
    return any(
        np.allclose(np.roll(a, s, axis=0), b, atol=atol) for s in range(len(a))
    )


def test_distributed_matches_single_task(spark, route_budget):
    route_budget("voronoi.sites", 0)
    from geo_spark.operators.geometry2 import voronoi_distributed, voronoi_of_group

    rng = np.random.RandomState(11)
    n = 1500
    pts = np.column_stack([rng.uniform(-20, 25, n), rng.uniform(30, 55, n)])
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "site_id long, lon double, lat double",
    )
    got = _rings(voronoi_distributed(df, res=4).collect())
    exp = _rings(
        voronoi_of_group(
            df.withColumn("group_id", F.lit(0)), id_col="site_id"
        ).collect()
    )
    assert set(got) == set(exp)
    assert all(_same_ring(got[k], exp[k]) for k in exp)


def test_distributed_grouped(spark, route_budget):
    route_budget("voronoi.sites", 0)
    from geo_spark.operators.geometry2 import voronoi_distributed, voronoi_of_group

    rng = np.random.RandomState(3)
    n = 600
    pts = np.column_stack([rng.uniform(0, 40, n), rng.uniform(-10, 20, n)])
    df = spark.createDataFrame(
        [(int(i), float(x), float(y), int(i % 3)) for i, (x, y) in enumerate(pts)],
        "site_id long, lon double, lat double, grp long",
    )
    got = _rings(
        voronoi_distributed(df, id_col="site_id", group_col="grp", res=3).collect(),
        key=lambda r: (r["grp"], r["site_id"]),
    )
    exp = _rings(
        voronoi_of_group(
            df.withColumnRenamed("grp", "group_id"), id_col="site_id"
        ).collect(),
        key=lambda r: (r["group_id"], r["site_id"]),
    )
    assert set(got) == set(exp)
    assert all(_same_ring(got[k], exp[k]) for k in exp)


def test_distributed_degenerate_inputs(spark, route_budget):
    route_budget("voronoi.sites", 0)
    from geo_spark.operators.geometry2 import voronoi_distributed

    # duplicates + collinear sites: every site still gets a row; duplicate
    # sites get identical cells (degenerate zero-normal bisector is a no-op)
    rows = [(0, 5.0, 5.0), (1, 5.0, 5.0), (2, 10.0, 5.0), (3, 15.0, 5.0), (4, 20.0, 5.0)]
    df = spark.createDataFrame(rows, "site_id long, lon double, lat double")
    out = {r["site_id"]: r["cell_ring"] for r in voronoi_distributed(df, res=2).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    a0 = np.array([(c["x"], c["y"]) for c in out[0]])
    a1 = np.array([(c["x"], c["y"]) for c in out[1]])
    assert np.array_equal(a0, a1)


def test_distributed_plan_is_multi_task(spark, route_budget):
    route_budget("voronoi.sites", 0)
    # the scale property itself: pass 1 runs as a multi-partition
    # applyInPandas keyed by (group, tile) — never a single global group
    from geo_spark.operators.geometry2 import voronoi_distributed

    rng = np.random.RandomState(5)
    n = 2000
    pts = np.column_stack([rng.uniform(-30, 30, n), rng.uniform(20, 60, n)])
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "site_id long, lon double, lat double",
    )
    from geo_spark.operators.cluster import halo_cells

    # the operator's own tiling choice at this density must split the data
    import math
    area = 60.0 * 40.0
    tile_h = math.sqrt(400 * area / (2.0 * n))
    res = max(1, min(18, round(math.log2(180.0 / tile_h))))
    h = min(180.0 / (1 << res), 8.0 * math.sqrt(area / n))
    n_tiles = (
        halo_cells(df, "lon", "lat", h, res).select("_cell").distinct().count()
    )
    assert n_tiles >= 8, n_tiles
    out = voronoi_distributed(df)
    assert out.count() == n


def test_distributed_string_group_keys(spark, route_budget):
    route_budget("voronoi.sites", 0)
    # Round-5 ADVICE: the applyInPandas schemas hardcoded long group/id
    # types; non-integer group keys (string region names) must work and
    # match the per-group single-task result.
    from geo_spark.operators.geometry2 import voronoi_distributed, voronoi_of_group

    rng = np.random.RandomState(17)
    n = 300
    pts = np.column_stack([rng.uniform(0, 30, n), rng.uniform(0, 20, n)])
    names = ["east", "west", "mid"]
    df = spark.createDataFrame(
        [
            (int(i), float(x), float(y), names[int(i) % 3])
            for i, (x, y) in enumerate(pts)
        ],
        "site_id long, lon double, lat double, region string",
    )
    got = voronoi_distributed(df, id_col="site_id", group_col="region", res=3)
    assert dict(got.dtypes)["region"] == "string"
    gotr = _rings(got.collect(), key=lambda r: (r["region"], r["site_id"]))
    exp = _rings(
        voronoi_of_group(
            df.withColumnRenamed("region", "group_id"), id_col="site_id"
        ).collect(),
        key=lambda r: (r["group_id"], r["site_id"]),
    )
    assert set(gotr) == set(exp)
    assert all(_same_ring(gotr[k], exp[k]) for k in exp)


def test_driver_site_path_matches_distributed(spark, route_budget):
    # Round-6 optimization: within the "voronoi.sites" budget the whole
    # construction runs on the driver via the same local kernel. Both paths
    # must emit the same rings (up to rotation), grouped and ungrouped,
    # including degenerate duplicate sites.
    from geo_spark.operators.geometry2 import voronoi_distributed

    rng = np.random.RandomState(23)
    n = 500
    pts = np.column_stack([rng.uniform(-20, 25, n), rng.uniform(30, 55, n)])
    rows = [(int(i), float(x), float(y), int(i % 3)) for i, (x, y) in enumerate(pts)]
    rows.append((n, rows[0][1], rows[0][2], 0))  # duplicate site
    df = spark.createDataFrame(rows, "site_id long, lon double, lat double, grp long")
    kw = dict(id_col="site_id", group_col="grp", res=3)
    key = lambda r: (r["grp"], r["site_id"])
    drv = _rings(voronoi_distributed(df, **kw).collect(), key=key)
    route_budget("voronoi.sites", 0)
    dist = _rings(voronoi_distributed(df, **kw).collect(), key=key)
    assert set(drv) == set(dist)
    assert all(_same_ring(drv[k], dist[k]) for k in dist)
