"""Distributed DBSCAN/LOF must match the exact local kernel."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_spark.kernels.cluster import dbscan_labels, lof_scores
from geo_spark.operators.cluster import dbscan, kmeans, lof


def _clusters_as_partition(ids, labels):
    """Set of frozensets of point ids per cluster + frozenset of noise ids."""
    groups = {}
    noise = set()
    for i, l in zip(ids, labels):
        if l < 0:
            noise.add(i)
        else:
            groups.setdefault(l, set()).add(i)
    return {frozenset(v) for v in groups.values()}, frozenset(noise)


@pytest.fixture(scope="module")
def blobs():
    rng = np.random.RandomState(3)
    # three blobs spanning cell boundaries at various scales + sparse noise
    c1 = rng.normal([10.0, 50.0], 0.05, (40, 2))
    c2 = rng.normal([10.4, 50.2], 0.05, (35, 2))
    c3 = rng.normal([-60.0, -20.0], 0.08, (50, 2))
    noise = rng.uniform(-170, 170, (20, 2)) * [1, 0.5]
    return np.vstack([c1, c2, c3, noise])


def test_local_dbscan_kernel_basics(blobs):
    labels = dbscan_labels(blobs, epsilon=0.15, min_samples=4)
    parts, noise = _clusters_as_partition(range(len(blobs)), labels)
    assert len(parts) >= 3
    # the three blobs are dense → all their points clustered
    assert all(i not in noise for i in range(125))


def test_distributed_dbscan_matches_local(spark, blobs):
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(blobs)],
        schema="id long, lon double, lat double",
    )
    got = dbscan(df, epsilon=0.15, min_samples=4, id_col="id").collect()
    got_parts, got_noise = _clusters_as_partition(
        [r["id"] for r in got], [r["cluster"] for r in got]
    )
    labels = dbscan_labels(blobs, epsilon=0.15, min_samples=4)
    exp_parts, exp_noise = _clusters_as_partition(range(len(blobs)), labels)
    assert got_noise == exp_noise
    assert got_parts == exp_parts


def test_distributed_dbscan_cross_cell_merge(spark):
    # a dense line of points crossing several cell boundaries must be ONE cluster
    xs = np.linspace(-5.0, 5.0, 101)  # step 0.1, crosses the cell line at 0
    pts = [(i, float(x), float(0.001 * x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(pts, schema="id long, lon double, lat double")
    got = dbscan(df, epsilon=0.25, min_samples=3, id_col="id").collect()
    clusters = {r["cluster"] for r in got}
    assert clusters == {0}


def test_lof_flags_outlier(spark):
    rng = np.random.RandomState(5)
    cluster = rng.normal([0.0, 0.0], 0.05, (60, 2))
    outlier = np.array([[1.5, 1.5]])
    pts = np.vstack([cluster, outlier])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        schema="id long, lon double, lat double",
    )
    got = {r["id"]: r["lof"] for r in lof(df, k=5, epsilon_halo=3.0).collect()}
    # exact parity with the local kernel
    exp = lof_scores(pts, 5)
    for i in range(len(pts)):
        assert got[i] == pytest.approx(exp[i], rel=1e-12)
    assert got[60] > 2.0  # the outlier
    assert np.median([got[i] for i in range(60)]) < 1.3


def test_kmeans_wrapper(spark):
    rng = np.random.RandomState(6)
    a = rng.normal([0, 0], 0.1, (30, 2))
    b = rng.normal([10, 10], 0.1, (30, 2))
    pts = np.vstack([a, b])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        schema="id long, lon double, lat double",
    )
    got = {r["id"]: r["cluster"] for r in kmeans(df, k=2).collect()}
    ca = {got[i] for i in range(30)}
    cb = {got[i] for i in range(30, 60)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb


def test_distributed_merge_path_matches_driver(spark, route_budget):
    # a dense snake spanning ~14 cell columns (epsilon 0.25 → res cells 1.4°
    # wide): the cluster graph is a long chain, so min-label propagation
    # needs several pointer-jump rounds — plus two separate blobs and noise.
    rng = np.random.RandomState(9)
    xs = np.linspace(-10.0, 10.0, 201)  # step 0.1
    rows = [(i, float(x), float(np.sin(x) * 0.3)) for i, x in enumerate(xs)]
    blob1 = rng.normal([40.0, 20.0], 0.05, (30, 2))
    blob2 = rng.normal([-80.0, -40.0], 0.05, (30, 2))
    base = len(rows)
    rows += [(base + i, float(x), float(y)) for i, (x, y) in enumerate(blob1)]
    base = len(rows)
    rows += [(base + i, float(x), float(y)) for i, (x, y) in enumerate(blob2)]
    rows += [(10_000 + i, float(lon), float(lat))
             for i, (lon, lat) in enumerate(rng.uniform(-150, 150, (15, 2)) * [1, 0.5])]
    df = spark.createDataFrame(rows, schema="id long, lon double, lat double")

    via_driver = {
        r["id"]: r["cluster"]
        for r in dbscan(df, epsilon=0.25, min_samples=3, id_col="id").collect()
    }
    route_budget("dbscan.edges", 0)
    via_distributed = {
        r["id"]: r["cluster"]
        for r in dbscan(df, epsilon=0.25, min_samples=3, id_col="id").collect()
    }
    assert via_distributed == via_driver  # identical ids, not just partitions
    # the snake must be one cluster on both paths
    snake = {via_distributed[i] for i in range(201)}
    assert len(snake) == 1 and -1 not in snake
