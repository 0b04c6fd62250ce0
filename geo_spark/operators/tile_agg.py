"""Raster↔vector tile aggregation: cell-keyed rollups of point/geometry data.

Tiles are Z-order cells; a rollup from resolution r to r-s is a pure-SQL
``cell_parent_col`` (drop 2s interleaved bits — no re-encode, no shuffle of
the raw points beyond the single groupBy). Skewed hot tiles (power-law web
data) are handled by two-phase salted aggregation: partial counts on
(cell, salt) then a final combine on cell — the classic map-side-combine
shape, with AQE coalescing the second stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_spark.functions import cell_encode_col, cell_parent_col, cell_xy_cols


def tile_counts(
    points: DataFrame,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    salt_buckets: int = 0,
    extra_aggs: list | None = None,
) -> DataFrame:
    """Count (and optionally aggregate) points per tile at ``res``.

    ``salt_buckets > 0`` enables two-phase salted aggregation for hot cells.
    Output: (tile, ix, iy, n [, extra aggs...]).

    ``extra_aggs`` accepts either Column aggregates (unsalted path only) or
    salt-combinable ("fn", col, alias) tuples with fn in {sum, min, max,
    count} — those work on both paths (phase 1 computes the partial per
    (tile, salt); phase 2 recombines on tile with sum∘sum / min∘min /
    max∘max / sum∘count). Column aggregates with ``salt_buckets > 0`` raise:
    an arbitrary Column aggregate is not decomposable into a salt-combinable
    pair, and silently dropping it would return wrong columns.
    """
    _COMBINE = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.sum}
    extra = list(extra_aggs or [])
    tuple_aggs = [e for e in extra if isinstance(e, tuple)]
    col_aggs = [e for e in extra if not isinstance(e, tuple)]
    df = points.withColumn("tile", cell_encode_col(lon_col, lat_col, res))
    if salt_buckets > 0:
        if col_aggs:
            raise ValueError(
                "tile_counts(salt_buckets>0) cannot combine opaque Column "
                "aggregates across salt partials; pass ('sum'|'min'|'max'|"
                "'count', col, alias) tuples or use salt_buckets=0"
            )
        df = df.withColumn(
            "_salt", F.pmod(F.hash(F.col(lon_col), F.col(lat_col)), F.lit(salt_buckets))
        )
        # phase 1: partial agg on (tile, salt); phase 2: combine on tile
        partial_aggs = [F.count("*").alias("_pn")]
        final_aggs = [F.sum("_pn").alias("n")]
        for fn, col, alias in tuple_aggs:
            if fn not in _COMBINE:
                raise ValueError(f"unsupported salted aggregate fn: {fn}")
            phase1 = F.count(col) if fn == "count" else getattr(F, fn)(col)
            partial_aggs.append(phase1.alias(f"_p_{alias}"))
            final_aggs.append(_COMBINE[fn](f"_p_{alias}").alias(alias))
        partial = df.groupBy("tile", "_salt").agg(*partial_aggs)
        out = partial.groupBy("tile").agg(*final_aggs)
    else:
        aggs = [F.count("*").alias("n")]
        for e in extra:
            if isinstance(e, tuple):
                fn, col, alias = e
                agg = F.count(col) if fn == "count" else getattr(F, fn)(col)
                aggs.append(agg.alias(alias))
            else:
                aggs.append(e)
        out = df.groupBy("tile").agg(*aggs)
    ix, iy = cell_xy_cols("tile")
    return out.withColumn("ix", ix).withColumn("iy", iy)


def tile_rollup(tiles: DataFrame, steps: int, count_col: str = "n") -> DataFrame:
    """Roll tile counts up ``steps`` resolution levels (parent-cell combine)."""
    out = (
        tiles.withColumn("tile", cell_parent_col("tile", steps))
        .groupBy("tile")
        .agg(F.sum(count_col).alias(count_col))
    )
    ix, iy = cell_xy_cols("tile")
    return out.withColumn("ix", ix).withColumn("iy", iy)
