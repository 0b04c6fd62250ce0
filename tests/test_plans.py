"""Physical-plan shape assertions — the .explain() hygiene gate.

These lock in the plans we engineered for (SURVEY §4): broadcast-hash for
the PIP candidate join (never a shuffle of the point side), JVM-only
extraction (no Python in the plan), bbox prefilter evaluated below the
Arrow/Python node, and parquet pushdown for cell-range scans.
"""

import pytest
from pyspark.sql import functions as F

from geo_spark.operators.extract import extract_points
from geo_spark.operators.knn_join import knn_join
from geo_spark.operators.pip_join import pip_join_points_polygons
from geo_spark.sources.documents import synth_admin_polygons, synth_documents


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, 2000)


def test_extract_is_jvm_only(spark, docs):
    plan = _plan(extract_points(docs))
    assert "Python" not in plan and "Arrow" not in plan
    assert "regexp_extract_all" in plan


def test_pip_join_is_broadcast(spark, docs):
    import re

    pts = extract_points(docs)
    polys = synth_admin_polygons(spark, grid_deg=10.0)
    joined = pip_join_points_polygons(pts, polys, predicate="contains")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    # the big point side must not shuffle for the join
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]
    # exact refine runs in Arrow-batched Python — one node, one UDF — after
    # the bbox filter
    assert plan.count("ArrowEvalPython") == 1, plan
    assert len(set(re.findall(r"pythonUDF\d+", plan))) == 1, plan
    assert "BatchEvalPython" not in plan
    bbox_idx = plan.find("xmin")
    py_idx = plan.find("ArrowEvalPython")
    assert bbox_idx > py_idx  # deeper in the tree = printed later


def test_knn_primary_path_is_equi_join(spark, docs):
    pts = extract_points(docs).withColumn("id", F.xxhash64("url"))
    q = pts.select(F.col("id").alias("qid"), "lon", "lat").limit(50)
    t = pts.select(F.col("id").alias("tid"), "lon", "lat")
    out = knn_join(q, t, k=3, res=3, metric="planar_sq")
    plan = _plan(out)
    # candidate generation is an equi-join on the cell id (hash or SMJ both
    # fine); the brute-force fallback branch may contain a cartesian product,
    # but the primary path must not be first
    first_join = min(
        [i for i in (plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                     plan.find("BroadcastHashJoin")) if i >= 0]
        or [10**9]
    )
    cartesian = plan.find("CartesianProduct")
    assert first_join < 10**9
    assert cartesian == -1 or cartesian > first_join


def test_lsh_pair_joins_are_equi_joins(spark):
    # the dedup/near-dup tier must never degrade to a cartesian product —
    # banded self-joins are plain equi-joins on the bucket key
    import numpy as np

    from geo_spark.operators.ann import cosine_near_pairs, sin_planes
    from geo_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 20) for i in range(50)], "doc_id long, text string"
    )
    vecs = spark.createDataFrame(
        [(i, [float(np.sin(i * 64 + k)) for k in range(64)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    for df in (
        minhash_lsh_pairs(docs, threshold=0.5),
        simhash_near_pairs(docs, max_hamming=6),
        cosine_near_pairs(vecs, threshold=0.8, planes=sin_planes()),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan[:2000]


def test_coords_output_evaluates_the_udf_once(spark):
    # a coords-returning geometry UDF is one Arrow UDF evaluated once: no
    # second Python node and no second UDF attribute for the x/y output
    import re

    from geo_spark.operators.scalar import simplify_rdp

    df = spark.createDataFrame(
        [(0, [{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.1}, {"x": 2.0, "y": 0.0}])],
        "gid long, coords array<struct<x:double,y:double>>",
    )
    plan = _plan(df.select("gid", simplify_rdp(F.col("coords"), 0.5).alias("s")))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert len(set(re.findall(r"pythonUDF\d+", plan))) == 1, plan


def test_within_distance_haversine_is_cell_equi_join(spark):
    # candidates come from an equi-join on the cell id after the per-row
    # longitude-ring explode — never a cartesian or nested-loop pair scan
    import re

    from geo_spark.operators.distance_join import within_distance_join

    pts = spark.range(200).select(
        F.col("id").alias("pid"),
        (F.col("id") * 1.7 % 360 - 180).alias("lon"),
        (F.col("id") * 0.9 % 180 - 90).alias("lat"),
    )
    out = within_distance_join(
        pts.withColumnRenamed("pid", "lid"), pts.withColumnRenamed("pid", "rid"),
        5000.0, metric="haversine",
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan
    assert any(
        re.search(rf"{j} \[_cell#\d+L\], \[_cell#\d+L\], Inner", plan)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ), plan
