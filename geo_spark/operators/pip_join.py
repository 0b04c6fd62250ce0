"""Point-in-polygon spatial join — the engine's flagship operator.

Architecture (SURVEY.md §3.1 "Spark shape"):

1. **coarse**: polygons are expanded into covering Z-order cells with an
   exact full/partial classification (index.cells.cover_polygon — the
   distributed stand-in for the reference's IntervalTreeMultiPolygon,
   ``indexed/interval_tree_multipolygon.rs:91-202``); points get a cell id
   via pure-SQL bit math (functions.cell_encode_col). The candidate join is
   a plain equi-join on the cell id; with a broadcastable polygon side it is
   a broadcast-hash join — zero shuffle of the (huge) point side.
2. **bbox prefilter**: an authored SQL conjunct (px between xmin..xmax)
   mirroring the reference's bbox fast-reject (``intersects/mod.rs:113-127``)
   — Catalyst evaluates it JVM-side before any Python.
3. **full-cell shortcut**: candidates whose cell is fully interior are
   accepted without running the exact kernel (the distributed analogue of
   the interior short-circuit at ``interval_tree_multipolygon.rs:153-158``).
   On real-world polygon sets most matches take this path.
4. **exact refine**: only partial-cell candidates enter a vectorized pandas
   UDF running the robust winding-number kernel
   (kernels.predicates.polygon_position) against a broadcast polygon dict,
   deserialized once per executor (module-level memo).

Scale notes: the point side is never shuffled (broadcast join + AQE);
polygon-side explosion is bounded by ``max_cells_per_polygon``; hot cells
don't skew this operator because the join key distribution only affects the
broadcast-hash probe, not a shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.functions import bbox_contains_point, cell_encode_col
from geo_spark.index.cells import cover_polygons
from geo_spark.operators.route import fetch_if_small

# executor-side cache: broadcast id → {polygon_id: (ext, holes)}
_BC_CACHE: dict = {}

_POLY_COLS = ("polygon_id", "exterior", "interiors", "xmin", "ymin", "xmax", "ymax")


def _ring(coords) -> np.ndarray:
    return np.asarray([(c["x"], c["y"]) for c in coords], dtype=np.float64)


def _poly_arrays(exterior, interiors):
    """(exterior, [holes]) numpy rings from array<struct<x,y>> values — Spark
    Rows on the driver, Arrow-converted arrays inside pandas batches."""
    return _ring(exterior), [_ring(r) for r in (interiors if interiors is not None else [])]


def _driver_cover_rows(poly_rows, res: int):
    """Cover rows from already-collected polygon rows — the small-side fast
    path (admin-boundary scale): the geometry is on the driver anyway for
    the broadcast refine, and a few hundred covers cost less than a Spark
    job round-trip. The cover itself is the batched vectorized build
    (``cover_polygons``) — the per-polygon loop version cost ~0.4 ms/polygon
    of serial driver time, which dominated every admin-scale PIP query."""
    polys = [_poly_arrays(r["exterior"], r["interiors"]) for r in poly_rows]
    cells, pidx, fulls = cover_polygons(polys, res)
    rows = []
    for c, i, f in zip(cells.tolist(), pidx.tolist(), fulls.tolist()):
        r = poly_rows[i]
        rows.append(
            (
                int(c),
                int(r["polygon_id"]),
                bool(f),
                float(r["xmin"]),
                float(r["ymin"]),
                float(r["xmax"]),
                float(r["ymax"]),
            )
        )
    return rows


def _distributed_cover_rows(polygons: DataFrame, res: int):
    """Compute polygon cell covers on the executors, collect only the compact
    (cell, polygon_id, full, xmin, ymin, xmax, ymax) rows.

    At ~1M admin polygons even the batched cover build serializes minutes
    of driver work, so it runs as ``mapInPandas`` — the same
    ``cover_polygons`` pass over each Arrow batch — across however many
    partitions the polygon table has. The collected rows are compact (no
    geometry), sized like the broadcast relation itself.
    """

    def fn(it):
        for pdf in it:
            polys = [_poly_arrays(e, h) for e, h in zip(pdf["exterior"], pdf["interiors"])]
            cells, pidx, fulls = cover_polygons(polys, res)
            out = pdf.iloc[pidx][["polygon_id", "xmin", "ymin", "xmax", "ymax"]]
            yield out.reset_index(drop=True).assign(cell=cells, full=fulls)

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "cell long, full boolean"
    )
    sdf = polygons.select(*_POLY_COLS).mapInPandas(fn, schema=schema)
    return [
        tuple(r)
        for r in sdf.select("cell", "polygon_id", "full", "xmin", "ymin", "xmax", "ymax").collect()
    ]


def choose_res(bbox_rows, target_cells_per_polygon: int = 16, max_res: int = 14) -> int:
    """Resolution whose cells are ~1/4 the linear size of a median polygon bbox."""
    if not bbox_rows:
        return 6
    widths = []
    for r in bbox_rows[:2048]:
        widths.append(max(r["xmax"] - r["xmin"], (r["ymax"] - r["ymin"]) * 2.0, 1e-9))
    med = float(np.median(widths))
    for res in range(max_res, -1, -1):
        if 360.0 / (1 << res) >= med / 4.0:
            return res
    return 0


def pip_join_points_polygons(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "contains",
    res: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
    keep_position: bool = False,
) -> DataFrame:
    """Join point rows to the polygons that contain them.

    ``predicate``: 'contains' (strict interior — Contains semantics,
    ``contains/polygon.rs:17-21``), 'covers' / 'intersects' (boundary
    included, ``covers/mod.rs:42``), or 'position' (keep all candidates with
    the ternary position column).

    The polygon side must fit in a broadcast (admin-boundary scale, ≤ ~1M
    vertices total). Returns the point columns + ``polygon_id``
    (+ ``position`` when requested).
    """
    spark = points.sparkSession
    # the polygon geometry must land on the driver regardless (broadcast
    # refine is this operator's contract). Within the route budget, one
    # fetch feeds both the cover build and the geometry table (a few hundred
    # covers cost less than a Spark job round-trip). Above it, the cover
    # builds distributedly (mapInPandas) and the geometry STREAMS to the
    # driver via toLocalIterator — at the ~1M-polygon contract ceiling this
    # holds one copy of the geometry (the broadcast dict), not two (the
    # collected Row list plus the dict).
    poly_rows = fetch_if_small(polygons.select(*_POLY_COLS), "pip_join.polygons")
    if poly_rows is not None:
        if res is None:
            res = choose_res(poly_rows)
        cover_rows = _driver_cover_rows(poly_rows, res)
    else:
        if res is None:
            res = choose_res(
                polygons.select("xmin", "ymin", "xmax", "ymax").limit(2048).collect()
            )
        cover_rows = _distributed_cover_rows(polygons, res)
        poly_rows = polygons.select(
            "polygon_id", "exterior", "interiors"
        ).toLocalIterator(prefetchPartitions=True)
    cover_df = spark.createDataFrame(
        cover_rows,
        schema="cell long, polygon_id long, full boolean, "
        "xmin double, ymin double, xmax double, ymax double",
    )

    pts = points.withColumn("_cell", cell_encode_col(lon_col, lat_col, res))
    cand = pts.join(F.broadcast(cover_df), pts["_cell"] == cover_df["cell"], "inner")
    cand = cand.filter(
        bbox_contains_point("xmin", "ymin", "xmax", "ymax", lon_col, lat_col)
    )

    geoms = {
        int(r["polygon_id"]): _poly_arrays(r["exterior"], r["interiors"])
        for r in poly_rows
    }
    bc = spark.sparkContext.broadcast(geoms)
    bc_key = f"pip:{id(bc)}:{len(geoms)}"

    @F.pandas_udf(T.ByteType())
    def position_udf(
        polygon_id: pd.Series, lon: pd.Series, lat: pd.Series, full: pd.Series
    ) -> pd.Series:
        # deserialize the broadcast polygon table once per executor process
        table = _BC_CACHE.get(bc_key)
        if table is None:
            table = bc.value
            _BC_CACHE[bc_key] = table
        from geo_spark.kernels.predicates import polygon_position

        pid = polygon_id.to_numpy()
        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        is_full = full.to_numpy(dtype=bool)
        out = np.ones(len(pid), dtype=np.int8)  # full cells are Inside
        todo = ~is_full
        if todo.any():
            pid_t = pid[todo]
            idx_t = np.flatnonzero(todo)
            for p in np.unique(pid_t):
                mask = idx_t[pid_t == p]
                ext, holes = table[int(p)]
                out[mask] = polygon_position(lo[mask], la[mask], ext, holes)
        return pd.Series(out)

    # full-cell shortcut: one pass — the UDF receives the `full` flag and
    # masks out the winding kernel for interior cells (Arrow still ships
    # the row, ~25 bytes, but no Python math runs for it). A filter/union
    # split would re-scan the upstream source twice.
    cand = cand.withColumn(
        "position",
        position_udf(F.col("polygon_id"), F.col(lon_col), F.col(lat_col), F.col("full")),
    )

    if predicate == "contains":
        cand = cand.filter(F.col("position") == 1)
    elif predicate in ("covers", "intersects"):
        cand = cand.filter(F.col("position") >= 0)
    elif predicate != "position":
        raise ValueError(f"unknown predicate: {predicate}")

    drop = ["_cell", "cell", "full", "xmin", "ymin", "xmax", "ymax"]
    if not keep_position and predicate != "position":
        drop.append("position")
    return cand.drop(*drop)
