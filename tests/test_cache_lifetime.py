"""Operators keep no intermediate in the session's cache.

An intermediate an operator reads from more than one job is a
``localCheckpoint``: Spark's ContextCleaner frees it once the returned
DataFrame is unreachable. A ``cache()``/``persist()`` would instead stay
registered in the session's CacheManager until someone unpersists it.
"""

import numpy as np
import pytest


def _points(spark, n, seed, id_col):
    rng = np.random.RandomState(seed)
    xy = np.column_stack([rng.uniform(-20, 25, n), rng.uniform(30, 55, n)])
    return spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)],
        f"{id_col} long, lon double, lat double",
    )


def _docs(spark):
    # a few exact and near duplicates so every dedup tier has work
    rows = [(i, f"doc {i} " + "alpha beta gamma delta " * (i % 5 + 2)) for i in range(60)]
    rows += [(100 + i, rows[i][1]) for i in range(0, 60, 7)]
    rows += [(200 + i, rows[i][1] + " tail") for i in range(0, 60, 11)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _knn(spark):
    from geo_spark.operators.knn_join import knn_join

    q = _points(spark, 30, 1, "qid")
    t = _points(spark, 300, 2, "tid")
    return knn_join(q, t, k=3, res=6, metric="haversine")


def _minhash(spark):
    from geo_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark), threshold=0.5)


def _simhash(spark):
    from geo_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark), max_hamming=6)


def _tiered(spark):
    from geo_spark.operators.dedup import dedup_tiered

    return dedup_tiered(_docs(spark), hasher="md5_60")


def _cosine(spark):
    from geo_spark.operators.ann import cosine_near_pairs, sin_planes

    vecs = spark.createDataFrame(
        [(i, [float(np.sin(i % 40 * 64 + k)) for k in range(64)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    return cosine_near_pairs(vecs, threshold=0.8, planes=sin_planes())


def _dbscan(spark):
    from geo_spark.operators.cluster import dbscan

    return dbscan(_points(spark, 300, 3, "id"), epsilon=1.5, min_samples=3, id_col="id")


def _voronoi(spark):
    from geo_spark.operators.geometry2 import voronoi_distributed

    return voronoi_distributed(_points(spark, 300, 4, "site_id"), res=4)


@pytest.mark.parametrize(
    "build",
    [_knn, _minhash, _simhash, _tiered, _cosine, _dbscan, _voronoi],
    ids=["knn_join", "minhash_lsh_pairs", "simhash_near_pairs", "dedup_tiered",
         "cosine_near_pairs", "dbscan", "voronoi_distributed"],
)
def test_operator_leaves_cache_manager_empty(spark, route_budget, build):
    route_budget("voronoi.sites", 0)
    spark.catalog.clearCache()
    rows = build(spark).collect()
    assert rows
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()

