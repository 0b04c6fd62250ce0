"""Column-level scalar geometry operators over array<struct<x,y>> columns.

The DataFrame surface for the §2.3/2.4 construction + conversion operators:
each takes/returns plain Spark columns so Catalyst keeps pruning and
pushdown; kernels run per row through the one geometry UDF adapter
(operators/geom_udf.py — wire format, decode, payload memo, output
assembly). Rows are whole geometries here, so the batch-of-arrays shape is
the natural vectorization unit.

Affine transforms and radians/degrees stay pure-SQL (`F.transform` over the
coord array — JVM-side, no Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.operators import geom_udf as gu
from geo_spark.operators.geom_udf import COORDS_TYPE


def _dbl(v) -> Column:
    return F.lit(v).cast("double")  # F.lit passes a Column through


def simplify_rdp(coords: Column, epsilon) -> Column:
    from geo_spark.kernels.simplify import rdp

    return gu.geom_udf(rdp, COORDS_TYPE)(gu.coords(coords), _dbl(epsilon))


def simplify_stats(coords: Column, epsilon, algo: str = "rdp") -> Column:
    """struct<n:int, sum_x:double, sum_y:double> of the simplified line.

    Fused kernel + reduction: Catalyst's ``F.aggregate`` higher-order lambda
    is interpreted per element (~100× slower than the numpy fold on this
    box), so aggregation-shaped consumers of simplify should use this
    instead of materializing the coords and folding in SQL.
    """
    from geo_spark.kernels.simplify import rdp, visvalingam

    simplify = rdp if algo == "rdp" else visvalingam

    def stats(c, eps):
        out = np.asarray(simplify(c, float(eps)), dtype=np.float64).reshape(-1, 2)
        return out.shape[0], float(out[:, 0].sum()), float(out[:, 1].sum())

    return gu.geom_udf(stats, "struct<n:int, sum_x:double, sum_y:double>")(
        gu.coords(coords), _dbl(epsilon)
    )


def densify(coords: Column, max_segment_length) -> Column:
    from geo_spark.kernels.lines import densify as _densify

    return gu.geom_udf(_densify, COORDS_TYPE)(gu.coords(coords), _dbl(max_segment_length))


def densify_metric(coords: Column, max_segment_length, metric: str = "haversine") -> Column:
    """Metric-space densify (meters for haversine/geodesic/rhumb) —
    line_measures/densify.rs:139, legacy densify_haversine.rs."""
    from geo_spark.kernels.lines import densify_metric as _k

    fn = lambda c, m: _k(c, m, metric)  # noqa: E731 — close over the metric name
    return gu.geom_udf(fn, COORDS_TYPE)(gu.coords(coords), _dbl(max_segment_length))


def segmentize_metric(coords: Column, n_segments: int, metric: str = "haversine") -> Column:
    """n+1 breakpoints at equal metric-length spacing along the line
    (linestring_segment.rs:43 haversine twin)."""
    from geo_spark.kernels.lines import segmentize_metric as _k

    fn = lambda c, n: _k(c, int(n), metric)  # noqa: E731
    return gu.geom_udf(fn, COORDS_TYPE)(gu.coords(coords), F.lit(int(n_segments)))


def remove_repeated(coords: Column) -> Column:
    """Pure SQL: drop consecutive duplicates with a filter over indices."""
    c = coords
    idx = F.sequence(F.lit(0), F.size(c) - 1)
    keep = F.filter(
        idx,
        lambda i: (i == 0)
        | (F.element_at(c, i + 1)["x"] != F.element_at(c, i)["x"])
        | (F.element_at(c, i + 1)["y"] != F.element_at(c, i)["y"]),
    )
    return F.transform(keep, lambda i: F.element_at(c, i + 1))


def interpolate_point(coords: Column, fraction) -> Column:
    from geo_spark.kernels.lines import line_interpolate_point

    return gu.geom_udf(line_interpolate_point, "struct<x:double,y:double>")(
        gu.coords(coords), _dbl(fraction)
    )


def locate_point(coords: Column, px, py) -> Column:
    from geo_spark.kernels.lines import line_locate_point

    return gu.geom_udf(line_locate_point, T.DoubleType())(gu.coords(coords), _dbl(px), _dbl(py))


def substring_line(coords: Column, start, end) -> Column:
    from geo_spark.kernels.lines import substring as _substring

    return gu.geom_udf(_substring, COORDS_TYPE)(gu.coords(coords), _dbl(start), _dbl(end))


def frechet(coords_a: Column, coords_b: Column) -> Column:
    from geo_spark.kernels.lines import frechet_distance

    return gu.geom_udf(frechet_distance, T.DoubleType())(
        gu.coords(coords_a), gu.coords(coords_b)
    )


def hausdorff(coords_a: Column, coords_b: Column) -> Column:
    from geo_spark.kernels.lines import hausdorff_distance

    return gu.geom_udf(hausdorff_distance, T.DoubleType())(
        gu.coords(coords_a), gu.coords(coords_b)
    )


def ring_area_sql(coords: Column) -> Column:
    """Signed ring area as pure SQL — shifted shoelace via `aggregate`
    (mirrors area.rs:23-52 incl. the first-coordinate shift)."""
    c = coords
    x0 = F.element_at(c, 1)["x"]
    y0 = F.element_at(c, 1)["y"]
    idx = F.sequence(F.lit(2), F.greatest(F.size(c) - 1, F.lit(2)))
    twice = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + (
            (F.element_at(c, i - 1)["x"] - x0) * (F.element_at(c, i)["y"] - y0)
            - (F.element_at(c, i - 1)["y"] - y0) * (F.element_at(c, i)["x"] - x0)
        ),
    )
    return F.when(F.size(c) < 4, F.lit(0.0)).otherwise(twice / 2.0)


def bounding_rect_sql(coords: Column) -> Column:
    """struct<xmin,ymin,xmax,ymax> as pure SQL over the coord array."""
    xs = F.transform(coords, lambda p: p["x"])
    ys = F.transform(coords, lambda p: p["y"])
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def affine_transform_sql(coords: Column, matrix) -> Column:
    """Apply a 2x3 affine matrix to a coord array — pure SQL `transform`."""
    a, b, xoff = (float(v) for v in matrix[0])
    d, e, yoff = (float(v) for v in matrix[1])
    return F.transform(
        coords,
        lambda p: F.struct(
            (F.lit(a) * p["x"] + F.lit(b) * p["y"] + F.lit(xoff)).alias("x"),
            (F.lit(d) * p["x"] + F.lit(e) * p["y"] + F.lit(yoff)).alias("y"),
        ),
    )


def coords_to_radians_sql(coords: Column) -> Column:
    return F.transform(
        coords,
        lambda p: F.struct(F.radians(p["x"]).alias("x"), F.radians(p["y"]).alias("y")),
    )


def coords_to_degrees_sql(coords: Column) -> Column:
    return F.transform(
        coords,
        lambda p: F.struct(F.degrees(p["x"]).alias("x"), F.degrees(p["y"]).alias("y")),
    )


def is_convex(coords: Column) -> Column:
    from geo_spark.kernels.lines import is_ring_convex

    return gu.geom_udf(lambda c: bool(is_ring_convex(c)), T.BooleanType())(gu.coords(coords))


def closest_point_col(coords: Column, px, py) -> Column:
    """struct<kind,x,y>: nearest point on a polyline column to (px, py).

    Parity: ``ClosestPoint`` kinds (closest_point.rs) — 'intersection' when
    the query point lies on the line, else 'single'.
    """
    from geo_spark.kernels.lines import closest_point_on_line

    return gu.geom_udf(closest_point_on_line, "struct<kind:string,x:double,y:double>")(
        gu.coords(coords), _dbl(px), _dbl(py)
    )


def geometry_distance_cols(kind_a: Column, coords_a: Column, kind_b: Column, coords_b: Column) -> Column:
    """Euclidean distance between two geometry columns (any kind pair).

    Kinds: 'Point' (coords[0]), 'LineString' (coords), 'Polygon' (coords as
    the exterior ring). Parity: the reference's Distance impls
    (line_measures/metric_spaces/euclidean.rs) via kernels/gdistance.py.
    """
    from geo_spark.kernels.gdistance import geometry_distance

    def mk(kind, arr):
        if kind == "Point":
            return ("Point", arr[0])
        if kind == "LineString":
            return ("LineString", arr)
        return ("Polygon", [arr])

    def distance(ka, a, kb, b):
        return geometry_distance(mk(ka, a), mk(kb, b))

    return gu.geom_udf(distance, T.DoubleType())(
        kind_a, gu.coords(coords_a), kind_b, gu.coords(coords_b)
    )


def centroid(coords: Column, kind: str = "polygon") -> Column:
    """struct<x,y> centroid of a ring ('polygon') or polyline ('line')."""
    from geo_spark.kernels.area import linestring_centroid, polygon_centroid

    fn = polygon_centroid if kind == "polygon" else linestring_centroid
    return gu.geom_udf(fn, "struct<x:double,y:double>")(gu.coords(coords))


def utm_project(lon: Column, lat: Column) -> Column:
    """struct<easting,northing,zone,south> — UTM (WGS84, Krüger 6th-order
    series; kernels/project.py, the engine's proj.rs analogue). Vectorized
    numpy over Arrow batches."""
    from geo_spark.kernels.project import utm_forward

    @F.pandas_udf("struct<easting:double,northing:double,zone:int,south:boolean>")
    def udf(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        e, n, z, s = utm_forward(lons.to_numpy(np.float64), lats.to_numpy(np.float64))
        return pd.DataFrame(
            {"easting": e, "northing": n, "zone": z.astype("int32"), "south": s}
        )

    return udf(lon, lat)


def utm_unproject(easting: Column, northing: Column, zone: Column, south: Column) -> Column:
    """struct<lon,lat> — inverse UTM (kernels/project.utm_inverse)."""
    from geo_spark.kernels.project import utm_inverse

    @F.pandas_udf("struct<lon:double,lat:double>")
    def udf(e: pd.Series, n: pd.Series, z: pd.Series, s: pd.Series) -> pd.DataFrame:
        lon, lat = utm_inverse(
            e.to_numpy(np.float64), n.to_numpy(np.float64),
            z.to_numpy(np.int64), s.to_numpy(bool),
        )
        return pd.DataFrame({"lon": lon, "lat": lat})

    return udf(easting, northing, zone, south)
