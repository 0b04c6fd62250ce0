"""Spark surface for boolean overlay: per-pair column op + distributed union."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_spark.operators.boolops import distributed_unary_union, overlay_pairs


def _poly_row(x0, y0, s):
    ring = [
        {"x": float(x), "y": float(y)}
        for x, y in [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
    ]
    return {"exterior": ring, "interiors": []}


POLY_STRUCT = (
    "struct<exterior:array<struct<x:double,y:double>>,"
    "interiors:array<array<struct<x:double,y:double>>>>"
)


def test_overlay_pairs_column(spark):
    rows = [
        (1, _poly_row(0, 0, 10), _poly_row(5, 5, 10)),
        (2, _poly_row(0, 0, 4), _poly_row(100, 100, 4)),
        (3, _poly_row(0, 0, 10), _poly_row(2, 2, 3)),
    ]
    df = spark.createDataFrame(rows, schema=f"pid long, a {POLY_STRUCT}, b {POLY_STRUCT}")
    inter = {r["pid"]: r["result_area"] for r in overlay_pairs(df, op="intersection").collect()}
    assert inter == {1: pytest.approx(25.0), 2: 0.0, 3: pytest.approx(9.0)}
    union = {r["pid"]: r["result_area"] for r in overlay_pairs(df, op="union").collect()}
    assert union[1] == pytest.approx(175.0)
    assert union[2] == pytest.approx(32.0)
    diff = {r["pid"]: r["result_area"] for r in overlay_pairs(df, op="difference").collect()}
    assert diff == {1: pytest.approx(75.0), 2: pytest.approx(16.0), 3: pytest.approx(91.0)}


def test_distributed_unary_union(spark):
    # a 4x4 block of adjacent 5-degree squares + one far island
    rows = []
    pid = 0
    for i in range(4):
        for j in range(4):
            p = _poly_row(i * 5.0, j * 5.0, 5.0)
            rows.append(
                (
                    pid,
                    p["exterior"],
                    p["interiors"],
                    i * 5.0,
                    j * 5.0,
                    i * 5.0 + 5,
                    j * 5.0 + 5,
                )
            )
            pid += 1
    island = _poly_row(100.0, 30.0, 2.0)
    rows.append((pid, island["exterior"], island["interiors"], 100.0, 30.0, 102.0, 32.0))
    df = spark.createDataFrame(
        rows,
        schema="polygon_id long, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    result = distributed_unary_union(df, res=6, merge_levels=2)
    from geo_spark.kernels.area import ring_signed_area

    total = sum(abs(ring_signed_area(ext)) for ext, _ in result)
    assert total == pytest.approx(16 * 25.0 + 4.0)
    assert len(result) == 2  # the merged block + the island


def test_distributed_unary_union_ring_of_squares_keeps_its_hole(spark):
    # 8 unit squares around an empty centre share one level-0 cell, so level
    # 0 already merges them into one polygon with a hole; every later merge
    # level and the driver fold must carry that hole through
    rows = []
    for i in range(3):
        for j in range(3):
            if (i, j) != (1, 1):
                p = _poly_row(float(i), float(j), 1.0)
                rows.append(
                    (len(rows), p["exterior"], p["interiors"], float(i), float(j), i + 1.0, j + 1.0)
                )
    df = spark.createDataFrame(
        rows,
        schema="polygon_id long, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    result = distributed_unary_union(df, res=4, merge_levels=2)
    from geo_spark.kernels.area import polygon_unsigned_area

    assert len(result) == 1
    ext, holes = result[0]
    assert len(holes) == 1
    assert polygon_unsigned_area(ext, holes) == pytest.approx(8.0)
