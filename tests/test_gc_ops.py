"""Tagged-GeometryCollection column ops: dimension-phase centroid
(centroid.rs:36 / JTS Centroid fallback chain), validity, dimension."""

import numpy as np
from pyspark.sql import functions as F


def _gc_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "id long, gc array<struct<kind:string, rings:array<array<struct<x:double,y:double>>>>>",
    )


# a 5-vertex shell with a 4-vertex hole: rings of different lengths in one member
SHELL5 = [(0, 0), (6, 0), (6, 6), (0, 6), (0, 0)]
HOLE4 = [(1, 1), (1, 3), (3, 1), (1, 1)]


def _m(kind, *rings):
    return {"kind": kind, "rings": [[{"x": float(x), "y": float(y)} for x, y in r] for r in rings]}


def test_gc_centroid_phase_fallback(spark):
    from geo_spark.kernels.area import centroid_phases
    from geo_spark.operators.gc import gc_centroid, gc_dimension, gc_is_valid, gc_overlay

    sq = [(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]
    flat = [(0, 0), (4, 0), (0, 0)]  # zero-area polygon → line phase
    rows = [
        # area phase: square dominates the line and point members
        (0, [_m("polygon", sq), _m("linestring", [(10, 10), (11, 10)]), _m("point", [(5, 5)])]),
        # line phase: zero-area polygon ring weighs in as length
        (1, [_m("polygon", flat), _m("point", [(9, 9)])]),
        # point phase: only points and a zero-length line (its first point counts)
        (2, [_m("point", [(1, 1)]), _m("point", [(3, 5)]), _m("linestring", [(5, 9), (5, 9)])]),
        # empty collection → null centroid
        (3, []),
        # a hole with fewer vertices than the shell
        (4, [_m("polygon", SHELL5, HOLE4)]),
    ]
    df = _gc_df(spark, rows)
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            gc_centroid(F.col("gc")).alias("c"),
            gc_dimension(F.col("gc")).alias("dim"),
        ).collect()
    }
    assert (out[0]["c"]["x"], out[0]["c"]["y"]) == (1.0, 1.0) and out[0]["dim"] == 2
    # flat ring: segments (0,0)->(4,0)->(0,0), length-weighted centroid (2,0)
    assert (out[1]["c"]["x"], out[1]["c"]["y"]) == (2.0, 0.0) and out[1]["dim"] == 2
    assert (out[2]["c"]["x"], out[2]["c"]["y"]) == (3.0, 5.0) and out[2]["dim"] == 1
    assert out[3]["c"] is None and out[3]["dim"] == -1
    want = centroid_phases([], [], [(np.array(SHELL5, float), [np.array(HOLE4, float)])])
    assert (out[4]["c"]["x"], out[4]["c"]["y"]) == want and out[4]["dim"] == 2

    # a DataFrame holding only empty and NULL collections
    empty = _gc_df(spark, [(0, []), (1, None)]).select(
        gc_centroid(F.col("gc")).alias("c"),
        gc_is_valid(F.col("gc")).alias("ok"),
        gc_overlay(F.col("gc"), F.col("gc"), "union").alias("u"),
    )
    assert [tuple(r) for r in empty.collect()] == [(None, True, [])] * 2


def test_gc_is_valid(spark):
    from geo_spark.kernels.geom2 import validate_polygon
    from geo_spark.operators.gc import gc_is_valid

    sq = [(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]
    bowtie = [(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)]
    rows = [
        (0, [_m("polygon", sq), _m("point", [(1, 1)])]),
        (1, [_m("polygon", bowtie)]),
        (2, [_m("linestring", [(0, 0), (0, 0)])]),  # degenerate line
        (3, [_m("linestring", [(0, 0), (1, 1)])]),
        (4, [_m("polygon", SHELL5, HOLE4)]),
    ]
    out = {
        r["id"]: r["ok"]
        for r in _gc_df(spark, rows)
        .select("id", gc_is_valid(F.col("gc")).alias("ok"))
        .collect()
    }
    assert out[0] is True and out[1] is False and out[2] is False and out[3] is True
    assert validate_polygon(np.array(SHELL5, float), [np.array(HOLE4, float)]) == []
    assert out[4] is True


def test_gc_centroid_matches_corpus_kernel():
    # the column op and the conformance-certified kernel are the same code
    from geo_spark.kernels.area import centroid_phases

    got = centroid_phases(
        [(0.0, 0.0)],
        [np.array([(0.0, 0.0), (2.0, 0.0)])],
        [(np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], dtype=float), [])],
    )
    assert got == (0.5, 0.5)


def test_gc_overlay_mixed_dimensions(spark):
    from geo_spark.kernels.overlay_mixed import mixed_overlay
    from geo_spark.operators.gc import gc_dimension, gc_overlay

    sq = [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
    sq_shift = [(2, 0), (6, 0), (6, 4), (2, 4), (2, 0)]
    sq_touch = [(4, 0), (8, 0), (8, 4), (4, 4), (4, 0)]
    big = [(-1, -1), (7, -1), (7, 7), (-1, 7), (-1, -1)]
    rows = [
        (0, [_m("polygon", sq)], [_m("polygon", sq_shift)]),   # overlap → polygon
        (1, [_m("polygon", sq)], [_m("polygon", sq_touch)]),   # edge touch → line
        (2, [_m("polygon", sq)], [_m("point", [(2, 2)]), _m("point", [(9, 9)])]),
        (3, [_m("linestring", [(0, 2), (9, 2)])], [_m("polygon", sq)]),
        (4, [_m("polygon", SHELL5, HOLE4)], [_m("polygon", big)]),
    ]
    df = spark.createDataFrame(
        rows,
        "id long,"
        " a array<struct<kind:string, rings:array<array<struct<x:double,y:double>>>>>,"
        " b array<struct<kind:string, rings:array<array<struct<x:double,y:double>>>>>",
    )
    inter = df.select(
        "id",
        gc_overlay(F.col("a"), F.col("b"), "intersection").alias("r"),
    ).withColumn("dim", gc_dimension(F.col("r")))
    got = {r["id"]: r for r in inter.collect()}
    # overlap: one polygon member, area 2x4
    assert got[0]["dim"] == 2
    polys = [m for m in got[0]["r"] if m["kind"] == "polygon"]
    assert len(polys) == 1
    ring = np.array([(c["x"], c["y"]) for c in polys[0]["rings"][0]])
    area = abs(
        np.sum(ring[:-1, 0] * ring[1:, 1] - ring[1:, 0] * ring[:-1, 1]) / 2
    )
    assert area == 8.0
    # edge touch: pure line result
    assert got[1]["dim"] == 1
    assert all(m["kind"] == "linestring" for m in got[1]["r"])
    # point ∩ polygon: only the inside point survives
    assert got[2]["dim"] == 0
    pts = [
        (c["x"], c["y"])
        for m in got[2]["r"]
        for c in m["rings"][0]
        if m["kind"] == "point"
    ]
    assert pts == [(2.0, 2.0)]
    # line ∩ polygon: the clipped chord (0..4 at y=2 → within x in [0,4])
    assert got[3]["dim"] == 1
    seg_len = 0.0
    for m in got[3]["r"]:
        if m["kind"] == "linestring":
            arr = np.array([(c["x"], c["y"]) for c in m["rings"][0]])
            seg_len += float(
                np.hypot(arr[1:, 0] - arr[:-1, 0], arr[1:, 1] - arr[:-1, 1]).sum()
            )
    assert abs(seg_len - 4.0) < 1e-12
    # polygon with a ragged hole ∩ a square covering it: the kernel's own
    # pieces (the polygon, hole kept), ring by ring
    want_pts, want_segs, want_polys = mixed_overlay(
        ("GeometryCollection", [("Polygon", [np.array(SHELL5, float), np.array(HOLE4, float)])]),
        ("GeometryCollection", [("Polygon", [np.array(big, float)])]),
        "intersection",
    )
    assert not want_pts and not want_segs and [len(h) for _, h in want_polys] == [1]
    assert [m["kind"] for m in got[4]["r"]] == ["polygon"] * len(want_polys)
    for m, (ext, holes) in zip(got[4]["r"], want_polys):
        rings = [np.array([(c["x"], c["y"]) for c in r]) for r in m["rings"]]
        assert len(rings) == 1 + len(holes)
        for r, w in zip(rings, [ext, *holes]):
            np.testing.assert_array_equal(r, np.asarray(w, float))


def test_gc_overlay_union_absorbs(spark):
    from geo_spark.operators.gc import gc_overlay

    sq = [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
    rows = [
        # union of a polygon with a line crossing it: the inside part of the
        # line is absorbed, outside part survives as a line member
        (0, [_m("polygon", sq)], [_m("linestring", [(2, 2), (8, 2)])]),
    ]
    df = spark.createDataFrame(
        rows,
        "id long,"
        " a array<struct<kind:string, rings:array<array<struct<x:double,y:double>>>>>,"
        " b array<struct<kind:string, rings:array<array<struct<x:double,y:double>>>>>",
    )
    out = df.select(gc_overlay(F.col("a"), F.col("b"), "union").alias("r")).collect()[0]["r"]
    kinds = sorted(m["kind"] for m in out)
    assert kinds == ["linestring", "polygon"]
    line = [m for m in out if m["kind"] == "linestring"][0]
    arr = sorted((c["x"], c["y"]) for c in line["rings"][0])
    assert arr == [(4.0, 2.0), (8.0, 2.0)]
