"""GeometryCollection as a first-class Spark column.

The tagged-GC representation mirrors the reference's geometry enum
(``geo-types/src/geometry/mod.rs:50`` — a collection of tagged members) as a
plain Spark type, so GCs flow through DataFrame ops, parquet, and shuffles
without a UDT:

    GC_TYPE = array<struct<kind:string, rings:array<array<struct<x,y>>>>>

kind ∈ 'point' | 'linestring' | 'polygon';
  point      → rings = [[{x,y}]]
  linestring → rings = [coords]
  polygon    → rings = [exterior, hole, ...]   (closed rings)

Column ops (Arrow UDFs; members decode through the geometry adapter's
``read_rings``, and ``gc_overlay`` encodes through its ``encode_rings``):
  - ``gc_centroid``: dimension-phase centroid (``centroid.rs:36`` /
    JTS Centroid — the rule certified by the conformance corpus via
    kernels/area.centroid_phases).
  - ``gc_is_valid``: polygon members pass the full validation kernel
    (``validation/mod.rs`` rules — geom2.validate_polygon), linestrings need
    two distinct points, points need finite coords.
  - ``gc_dimension``: max member dimension (HasDimensions — empty → -1).
  - ``gc_overlay``: heterogeneous boolean op of two GC columns.

NULL collections read as empty ones.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.operators.geom_udf import encode_rings, list_array, list_rows, read_rings

COORD = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)
GC_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("rings", T.ArrayType(T.ArrayType(COORD))),
        ]
    )
)


def _read_gc(arr: pa.Array) -> list:
    """GC_TYPE array → per row, its members as the overlay kernel's parts:
    ``("Point", xy)`` per point, ``("LineString", coords)`` per non-empty
    line, ``("Polygon", [exterior, *holes])``."""
    kinds, rings = arr.values.flatten()
    members = []
    for kind, rs in zip(kinds.to_pylist(), read_rings(rings)):
        kind = (kind or "").lower()
        if kind == "point":
            members.append([("Point", xy) for r in rs for xy in r])
        elif kind == "linestring":
            members.append([("LineString", r) for r in rs if len(r)])
        elif kind == "polygon":
            members.append([("Polygon", rs)] if rs else [])
        else:
            raise ValueError(f"unknown GC member kind: {kind}")
    return [[p for m in row for p in m] for row in list_rows(arr, members, [])]


def _components(parts):
    """Overlay parts → the (pts, lines, polys) components of one GC."""
    pts = [(float(d[0]), float(d[1])) for k, d in parts if k == "Point"]
    lines = [d for k, d in parts if k == "LineString"]
    polys = [(d[0], d[1:]) for k, d in parts if k == "Polygon"]
    return pts, lines, polys


def gc_centroid(gc: Column) -> Column:
    """struct<x,y> — dimension-phase centroid of a tagged-GC column (NULL
    for the empty collection)."""
    from geo_spark.kernels.area import centroid_phases

    xy = pa.struct([("x", pa.float64()), ("y", pa.float64())])

    def centroid(cells: pa.Array) -> pa.Array:
        out = [centroid_phases(*_components(parts)) for parts in _read_gc(cells)]
        return pa.array(
            [None if c is None else {"x": c[0], "y": c[1]} for c in out], type=xy, from_pandas=True
        )

    return F.arrow_udf(centroid, "struct<x:double,y:double>")(gc)


def gc_is_valid(gc: Column) -> Column:
    """boolean — every member passes its type's validation rules."""
    from geo_spark.kernels.geom2 import validate_polygon

    def valid(pts, lines, polys) -> bool:
        return (
            all(np.isfinite(x) and np.isfinite(y) for x, y in pts)
            and all(len(np.unique(line, axis=0)) >= 2 for line in lines)
            and not any(validate_polygon(ext, holes) for ext, holes in polys)
        )

    def is_valid(cells: pa.Array) -> pa.Array:
        return pa.array([valid(*_components(parts)) for parts in _read_gc(cells)], pa.bool_())

    return F.arrow_udf(is_valid, T.BooleanType())(gc)


def gc_dimension(gc: Column) -> Column:
    """int — max member dimension: 2 polygon, 1 line, 0 point, -1 empty.
    Pure SQL (JVM-side), no Python."""
    has = lambda k: F.exists(gc, lambda m: F.lower(m["kind"]) == k)  # noqa: E731
    return (
        F.when(has("polygon"), F.lit(2))
        .when(has("linestring"), F.lit(1))
        .when(has("point"), F.lit(0))
        .otherwise(F.lit(-1))
    )


def _encode_gc(pts_segs_polys: list) -> pa.Array:
    """Per row, the mixed overlay's (pts, segs, polys) → GC_TYPE: polygon
    members, then line members, then the points in sorted order."""
    rows = [
        [("polygon", [ext, *holes]) for ext, holes in polys]
        + [("linestring", [[a, b]]) for a, b in segs]
        + [("point", [[p]]) for p in sorted(pts)]
        for pts, segs, polys in pts_segs_polys
    ]
    flat = [m for r in rows for m in r]
    members = pa.StructArray.from_arrays(
        [pa.array([k for k, _ in flat], pa.string()), encode_rings([rs for _, rs in flat])],
        names=["kind", "rings"],
    )
    return list_array([len(r) for r in rows], members)


def gc_overlay(gc_a: Column, gc_b: Column, op: str) -> Column:
    """Heterogeneous overlay of two tagged-GC columns → tagged-GC column.

    The engine's GeometryCollection-capable boolean op as a first-class
    column operator (kernels/overlay_mixed.mixed_overlay — the JTS
    OverlayNG result shape: area pieces + collapsed/touch lines + isolated
    points, lower-dimensional redundancy absorbed). op ∈ 'intersection' |
    'union' | 'difference' | 'symdifference'. Conformance-certified: the
    same kernel evaluates ~670 JTS mixed-dimension corpus cases.
    """

    def overlay(ca: pa.Array, cb: pa.Array) -> pa.Array:
        from geo_spark.kernels.overlay_mixed import mixed_overlay

        return _encode_gc(
            [
                mixed_overlay(("GeometryCollection", a), ("GeometryCollection", b), op)
                for a, b in zip(_read_gc(ca), _read_gc(cb))
            ]
        )

    return F.arrow_udf(overlay, GC_TYPE)(gc_a, gc_b)
