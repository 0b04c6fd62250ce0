"""Column surface for batch-2 construction kernels."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geo_spark.operators.geometry2 import (
    buffer_ring,
    concave_hull_points,
    interior_point_col,
    triangulate,
    validity_problems,
    voronoi_of_group,
)

SQ = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
BOWTIE = [(0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0), (0.0, 0.0)]


def _coords(pairs):
    return [{"x": x, "y": y} for x, y in pairs]


def test_geometry2_columns(spark):
    df = spark.createDataFrame(
        [(1, _coords(SQ), []), (2, _coords(BOWTIE), [])],
        schema="gid long, exterior array<struct<x:double,y:double>>, "
        "interiors array<array<struct<x:double,y:double>>>",
    )
    out = df.select(
        "gid",
        buffer_ring(F.col("exterior"), 1.0).alias("buf"),
        triangulate(F.col("exterior")).alias("tris"),
        validity_problems(F.col("exterior"), F.col("interiors")).alias("problems"),
        interior_point_col(F.col("exterior"), F.col("interiors")).alias("ip"),
    ).collect()
    r = {x["gid"]: x for x in out}
    assert len(r[1]["buf"]) == 1  # dilated square
    assert len(r[1]["tris"]) == 2  # square → 2 triangles
    assert r[1]["problems"] == []
    assert any("self-intersection" in p for p in r[2]["problems"])
    assert 0 < r[1]["ip"]["x"] < 10 and 0 < r[1]["ip"]["y"] < 10


def test_concave_hull_column(spark):
    rng = np.random.RandomState(2)
    pts = rng.uniform(0, 10, (80, 2))
    df = spark.createDataFrame(
        [(1, [{"x": float(x), "y": float(y)} for x, y in pts])],
        schema="gid long, pts array<struct<x:double,y:double>>",
    )
    out = df.select(concave_hull_points(F.col("pts"), 2.0).alias("hull")).collect()[0]
    assert len(out["hull"]) >= 4
    assert out["hull"][0] == out["hull"][-1]


def test_voronoi_group_operator(spark):
    rng = np.random.RandomState(3)
    rows = []
    for g in (1, 2):
        for x, y in rng.uniform(0, 50, (12, 2)):
            rows.append((g, float(x), float(y)))
    df = spark.createDataFrame(rows, schema="group_id long, lon double, lat double")
    out = voronoi_of_group(df)
    got = out.collect()
    assert len(got) == 24
    from geo_spark.kernels.predicates import ring_position

    for r in got[:6]:
        ring = np.asarray([(c["x"], c["y"]) for c in r["cell_ring"]])
        assert ring_position([r["lon"]], [r["lat"]], ring)[0] >= 0


def test_payload_memo_repeated_and_distinct_rows(spark):
    # geometry UDFs dedup identical payloads per batch (the payload memo in
    # operators/geom_udf.py). Repeated and distinct rows must give exactly
    # the per-row kernel results.
    import numpy as np
    from pyspark.sql import functions as F

    from geo_spark.kernels.area import ring_signed_area
    from geo_spark.kernels.boolops import unary_union
    from geo_spark.operators.geometry2 import unary_union_rings

    def ring(x0, y0, s):
        return [
            {"x": float(x0), "y": float(y0)},
            {"x": float(x0 + s), "y": float(y0)},
            {"x": float(x0 + s), "y": float(y0 + s)},
            {"x": float(x0), "y": float(y0 + s)},
            {"x": float(x0), "y": float(y0)},
        ]

    rows = []
    for i in range(40):
        k = i % 3  # heavy repetition
        rows.append((i, [ring(0, 0, 3 + k), ring(2, 0, 3)]))
    rows.append((100, [ring(50, 50, 1)]))  # unique payload
    df = spark.createDataFrame(
        rows, "id long, rings array<array<struct<x:double,y:double>>>"
    )
    got = {
        r["id"]: (r["u"]["n_pieces"], r["u"]["area"])
        for r in df.select("id", unary_union_rings(F.col("rings")).alias("u")).collect()
    }
    for rid, rings_row in rows:
        polys = [
            (np.asarray([(c["x"], c["y"]) for c in rr], dtype=np.float64), [])
            for rr in rings_row
        ]
        merged = unary_union(polys)
        area = sum(
            abs(ring_signed_area(np.asarray(ext, dtype=np.float64))) for ext, _ in merged
        )
        assert got[rid][0] == len(merged)
        assert abs(got[rid][1] - area) < 1e-9


def _ring(pts):
    return np.asarray(pts + [pts[0]], dtype=np.float64)


# one polygon per row: no holes, NULL interiors, one hole, two holes of 5
# and 6 vertices — the shapes whose interiors list is empty, missing,
# single or ragged
OUTER = _ring([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])
HOLE_SQ = _ring([(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0)])
HOLE_PENT = _ring([(6.0, 6.0), (6.5, 8.0), (7.5, 8.5), (8.5, 7.5), (8.0, 6.0)])
HOLE_ROWS = [(0, OUTER, []), (1, OUTER, None), (2, OUTER, [HOLE_SQ]), (3, OUTER, [HOLE_SQ, HOLE_PENT])]
# the second operand of the pair ops: an overlapping square with one hole
OTHER = (
    _ring([(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)]),
    [_ring([(11.0, 11.0), (11.0, 13.0), (13.0, 13.0), (13.0, 11.0)])],
)


def test_polygon_ops_on_rows_with_holes(spark):
    from geo_spark.geometry.wkb import parse_wkb, polygon_wkb_roundtrip, to_wkb
    from geo_spark.kernels.area import polygon_unsigned_area
    from geo_spark.kernels.boolops import boolean_op
    from geo_spark.kernels.buffer import buffer_polygon
    from geo_spark.kernels.geom2 import interior_point, validate_polygon
    from geo_spark.kernels.overlay_mixed import mixed_overlay
    from geo_spark.kernels.relate2 import relate_polygon_pair
    from geo_spark.kernels.repair import make_valid
    from geo_spark.kernels.triangulate import spade_triangulation
    from geo_spark.operators.boolops import mixed_overlay_stats, overlay_pairs
    from geo_spark.operators.geometry2 import (
        buffer_polygon_stats,
        make_valid_col,
        multipolygon_area,
        relate_polygons,
        spade_triangulation_all_stats,
    )

    def rows_of(ring):
        return [{"x": float(x), "y": float(y)} for x, y in ring]

    ring_t = "array<struct<x:double,y:double>>"
    df = spark.createDataFrame(
        [
            (gid, rows_of(ext), None if holes is None else [rows_of(h) for h in holes],
             rows_of(OTHER[0]), [rows_of(h) for h in OTHER[1]])
            for gid, ext, holes in HOLE_ROWS
        ],
        f"gid long, exterior {ring_t}, interiors array<{ring_t}>, "
        f"b_ext {ring_t}, b_ints array<{ring_t}>",
    )
    ext, ints = F.col("exterior"), F.col("interiors")
    b_ext, b_ints = F.col("b_ext"), F.col("b_ints")
    got = {
        r["gid"]: r
        for r in df.select(
            "gid",
            validity_problems(ext, ints).alias("problems"),
            interior_point_col(ext, ints).alias("ip"),
            make_valid_col(ext, ints).alias("mv"),
            relate_polygons(ext, ints, b_ext, b_ints).alias("de9im"),
            buffer_polygon_stats(ext, ints, 0.5).alias("buf"),
            spade_triangulation_all_stats(ext, ints).alias("spade"),
            mixed_overlay_stats(ext, ints, b_ext, b_ints, "intersection").alias("mixed"),
            polygon_wkb_roundtrip(ext, ints).alias("wkb"),
            multipolygon_area(F.array(F.struct(ext.alias("exterior"), ints.alias("interiors"))))
            .alias("mp_area"),
        ).collect()
    }
    pairs = df.select(
        "gid",
        F.struct(ext.alias("exterior"), ints.alias("interiors")).alias("a"),
        F.struct(b_ext.alias("exterior"), b_ints.alias("interiors")).alias("b"),
    )
    overlaid = {r["gid"]: r for r in overlay_pairs(pairs, op="difference").collect()}

    def pieces(mp):
        return [
            (np.asarray([(c["x"], c["y"]) for c in p["exterior"]]),
             [np.asarray([(c["x"], c["y"]) for c in h]) for h in p["interiors"]])
            for p in mp
        ]

    def same_pieces(mp, want):
        assert len(mp) == len(want)
        for (e, hs), (we, whs) in zip(pieces(mp), want):
            assert np.array_equal(e, np.asarray(we, dtype=np.float64))
            assert len(hs) == len(whs)
            for h, wh in zip(hs, whs):
                assert np.array_equal(h, np.asarray(wh, dtype=np.float64))

    def area_of(ps):
        return sum(polygon_unsigned_area(e, hs) for e, hs in ps)

    def tri_area(pts, tris):
        return sum(
            abs((pts[b][0] - pts[a][0]) * (pts[c][1] - pts[a][1])
                - (pts[b][1] - pts[a][1]) * (pts[c][0] - pts[a][0])) / 2.0
            for a, b, c in tris
        )

    for gid, e, holes in HOLE_ROWS:
        hs = holes or []
        r = got[gid]
        assert r["problems"] == validate_polygon(e, hs)
        assert (r["ip"]["x"], r["ip"]["y"]) == tuple(interior_point(e, hs))
        same_pieces(r["mv"], make_valid(e, hs))
        assert r["de9im"] == relate_polygon_pair(e, hs, *OTHER)
        buf = buffer_polygon(e, hs, 0.5, 8, "round", 5.0)
        assert (r["buf"]["n_pieces"], r["buf"]["area"]) == (len(buf), pytest.approx(area_of(buf)))
        for mode, key in (("unconstrained", "un"), ("outer", "outer"), ("constrained", "con")):
            pts, tris = spade_triangulation([e] + hs, mode)
            assert r["spade"][f"n_{key}"] == len(tris)
            assert r["spade"][f"area_{key}"] == pytest.approx(tri_area(pts, tris))
        pts, segs, polys = mixed_overlay(
            ("Polygon", [e] + hs), ("Polygon", [OTHER[0]] + OTHER[1]), "intersection"
        )
        m = r["mixed"]
        assert (m["n_polys"], m["n_segs"], m["n_points"]) == (len(polys), len(segs), len(pts))
        assert m["poly_area"] == pytest.approx(area_of(polys))
        buf_wkb = to_wkb(("Polygon", [e] + hs))
        allc = np.vstack(parse_wkb(buf_wkb)[1])
        w = r["wkb"]
        assert (w["n_bytes"], w["n_vertices"], w["ok"]) == (len(buf_wkb), len(allc), True)
        assert (w["sum_x"], w["sum_y"]) == pytest.approx((allc[:, 0].sum(), allc[:, 1].sum()))
        assert r["mp_area"] == pytest.approx(polygon_unsigned_area(e, hs))
        diff = boolean_op(e, hs, *OTHER, "difference")
        same_pieces(overlaid[gid]["result"], diff)
        assert overlaid[gid]["result_area"] == pytest.approx(area_of(diff))
