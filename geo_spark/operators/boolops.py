"""DataFrame surface for boolean overlay: per-pair ops and distributed union.

- ``overlay_pairs``: one overlay per row over two polygon columns
  (array<struct<x,y>> exterior + nested interiors), vectorized per Arrow
  batch; returns the result as a multipolygon column plus its area.
- ``distributed_unary_union``: n-way union of a polygon table — the Spark
  shape of the reference's ``unary_union`` (``bool_ops/mod.rs:259-288``):
  polygons group by a coarse cell of their bbox center, each cell unions
  locally (``applyInPandas``), then cell results merge hierarchically by
  parent cell until one group remains. Polygons only merge across cells at
  the merge levels, so the shuffle volume at each level is the (small)
  cell-result set, not the input.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.operators import geom_udf as gu
from geo_spark.operators.geom_udf import MULTIPOLY_TYPE

_RING = "array<struct<x:double,y:double>>"


def _read_polygons(t: pa.Table) -> list:
    """(exterior, holes) per row of a table's exterior/interiors columns."""
    return gu.read_polygons(
        t.column("exterior").combine_chunks(), t.column("interiors").combine_chunks()
    )


def overlay_pairs(
    df: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    op: str = "intersection",
) -> DataFrame:
    """Adds ``result`` (multipolygon) and ``result_area`` columns.

    ``a_col``/``b_col`` are struct columns with fields exterior/interiors.
    """
    from geo_spark.kernels.area import pieces_area
    from geo_spark.kernels.boolops import boolean_op

    def overlay(ea, ha, eb, hb):
        return boolean_op(ea, ha, eb, hb, op)

    a, b = F.col(a_col), F.col(b_col)
    result = gu.geom_udf(overlay, MULTIPOLY_TYPE)(
        gu.polygon(a["exterior"], a["interiors"]), gu.polygon(b["exterior"], b["interiors"])
    )
    out = df.withColumn("result", result)
    area = gu.geom_udf(pieces_area, T.DoubleType())(gu.multipolygon(F.col("result")))
    return out.withColumn("result_area", area)


def distributed_unary_union(
    polygons: DataFrame,
    res: int = 4,
    merge_levels: int = 2,
) -> list:
    """Union every polygon in the table; returns the final (small) result as
    a local list of (exterior, holes) numpy pairs.

    Level 0 groups by the bbox-center cell at ``res``; each merge level drops
    2 resolution steps. The final cross-group union runs on the driver over
    the few surviving pieces.
    """
    from geo_spark.functions import cell_encode_col

    df = polygons.select(
        cell_encode_col(
            (F.col("xmin") + F.col("xmax")) / 2.0,
            (F.col("ymin") + F.col("ymax")) / 2.0,
            res,
        ).alias("cell"),
        "exterior",
        "interiors",
    )
    schema = f"cell long, exterior {_RING}, interiors array<{_RING}>"

    def union_group(t: pa.Table) -> pa.Table:
        from geo_spark.kernels.boolops import unary_union

        merged = unary_union(_read_polygons(t))
        return pa.table(
            {
                "cell": pa.array([t.column("cell")[0].as_py()] * len(merged), pa.int64()),
                "exterior": gu.encode_coords([e for e, _ in merged]),
                "interiors": gu.encode_rings([h for _, h in merged]),
            }
        )

    level = df.groupBy("cell").applyInArrow(union_group, schema=schema)

    from geo_spark.functions import cell_parent_col

    for _ in range(merge_levels):
        level = (
            level.withColumn("cell", cell_parent_col("cell", 2))
            .groupBy("cell")
            .applyInArrow(union_group, schema=schema)
        )

    from geo_spark.kernels.boolops import unary_union

    # Final-stage guard: the driver fold is for the tiny cross-cell residue
    # only. An adversarial input (every piece crossing cells at every merge
    # level) would otherwise collect the whole table; fail loudly instead
    # of silently OOMing the driver. The checkpoint makes the count and the
    # collect read the same materialization (no double compute).
    max_driver_pieces = 100_000
    level = level.localCheckpoint(eager=True)
    n_left = level.count()
    if n_left > max_driver_pieces:
        raise RuntimeError(
            f"distributed_unary_union: {n_left} pieces survive "
            f"{merge_levels} merge levels (> {max_driver_pieces}); raise "
            "merge_levels/res so the cross-cell residue fits the driver fold"
        )
    return unary_union(_read_polygons(level.toArrow()))


def mixed_overlay_stats(
    ext_a: Column, ints_a: Column, ext_b: Column, ints_b: Column, op: str
) -> Column:
    """struct<n_polys,poly_area,n_segs,seg_len,n_points>: the heterogeneous
    overlay of two polygon columns (kernels/overlay_mixed.mixed_overlay —
    the GeometryCollection-shaped result JTS OverlayNG produces: area pieces
    + collapsed/shared-boundary line pieces + isolated touch points).
    """
    from geo_spark.kernels.area import pieces_area
    from geo_spark.kernels.overlay_mixed import mixed_overlay

    def overlay_stats(ea, ha, eb, hb):
        pts, segs, polys = mixed_overlay(("Polygon", [ea] + ha), ("Polygon", [eb] + hb), op)
        slen = sum(float(np.hypot(b[0] - a[0], b[1] - a[1])) for a, b in segs)
        return len(polys), pieces_area(polys), len(segs), slen, len(pts)

    return gu.geom_udf(
        overlay_stats,
        "struct<n_polys:int,poly_area:double,n_segs:int,seg_len:double,n_points:int>",
    )(gu.polygon(ext_a, ints_a), gu.polygon(ext_b, ints_b))
