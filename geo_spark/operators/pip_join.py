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
4. **exact refine**: only partial-cell candidates run the robust
   winding-number kernel (kernels.predicates.polygon_position), inside an
   Arrow UDF against a broadcast {polygon_id: (exterior, holes)} table.
   PySpark keeps a broadcast's value once per Python worker process, so
   the table is unpickled once per worker, not once per batch.

The polygon table reaches the driver as one Arrow fetch and is decoded
once by the geometry adapter's decoder (``geom_udf.read_polygons``); that
decoded copy feeds the cover build (driver route) and the broadcast.
Above the ``pip_join.polygons`` route budget the cover builds on the
executors (``mapInArrow``, same decoder) and only the compact cover rows
come back.

Scale notes: the point side is never shuffled (broadcast join + AQE);
polygon-side explosion is bounded by ``max_cells_per_polygon``; hot cells
don't skew this operator because the join key distribution only affects the
broadcast-hash probe, not a shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from geo_spark.functions import bbox_contains_point, cell_encode_col
from geo_spark.index.cells import cover_polygons
from geo_spark.operators.geom_udf import read_polygons
from geo_spark.operators.route import fits

_BBOX = ("xmin", "ymin", "xmax", "ymax")
_POLY_COLS = ("polygon_id", "exterior", "interiors", *_BBOX)
_COVER = pa.schema(
    [("cell", pa.int64()), ("polygon_id", pa.int64()), ("full", pa.bool_())]
    + [(c, pa.float64()) for c in _BBOX]
)


def _decode(polys: pa.Table) -> list:
    """(exterior, holes) numpy rings per row of a ``_POLY_COLS`` table."""
    return read_polygons(
        polys["exterior"].combine_chunks(), polys["interiors"].combine_chunks()
    )


def _cover(polys: pa.Table, geoms: list, res: int) -> pa.Table:
    """Cover rows (``_COVER``) of ``polys`` whose decoded rings are ``geoms``.

    The cover is the batched vectorized build (``cover_polygons``); each
    cell row carries its polygon's id and bbox."""
    cells, pidx, full = cover_polygons(geoms, res)
    owner = polys.take(pidx)
    cols = {"cell": cells, "polygon_id": owner["polygon_id"], "full": full}
    return pa.table({**cols, **{c: owner[c] for c in _BBOX}}).cast(_COVER)


def _distributed_cover(polygons: DataFrame, res: int) -> pa.Table:
    """Compute polygon cell covers on the executors, collect only the compact
    cover rows (no geometry), sized like the broadcast relation itself.

    At ~1M admin polygons even the batched cover build serializes minutes
    of driver work, so it runs as ``mapInArrow`` — the same decode and
    ``cover_polygons`` pass over each Arrow batch — across however many
    partitions the polygon table has.
    """

    def fn(batches):
        for batch in batches:
            polys = pa.Table.from_batches([batch])
            yield from _cover(polys, _decode(polys), res).to_batches()

    return polygons.select(*_POLY_COLS).mapInArrow(fn, from_arrow_schema(_COVER)).toArrow()


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
    # refine is this operator's contract): one Arrow fetch, decoded once.
    # Within the route budget the same decoded rings feed the cover build (a
    # few hundred covers cost less than a Spark job round-trip); above it
    # the cover builds on the executors.
    polys = polygons.select(*_POLY_COLS).toArrow()
    if res is None:
        res = choose_res(polys.select(list(_BBOX)).slice(0, 2048).to_pylist())
    geoms = _decode(polys)
    if fits(polys.num_rows, "pip_join.polygons"):
        cover = _cover(polys, geoms, res)
    else:
        cover = _distributed_cover(polygons, res)
    by_id = dict(zip(polys["polygon_id"].to_pylist(), geoms))
    del polys  # the driver keeps one copy of the geometry: the decoded rings
    cover_df = spark.createDataFrame(cover)

    pts = points.withColumn("_cell", cell_encode_col(lon_col, lat_col, res))
    cand = pts.join(F.broadcast(cover_df), pts["_cell"] == cover_df["cell"], "inner")
    cand = cand.filter(
        bbox_contains_point("xmin", "ymin", "xmax", "ymax", lon_col, lat_col)
    )

    bc = spark.sparkContext.broadcast(by_id)

    def position(polygon_id: pa.Array, lon: pa.Array, lat: pa.Array, full: pa.Array) -> pa.Array:
        from geo_spark.kernels.predicates import polygon_position

        by_id = bc.value
        pid = polygon_id.to_numpy()
        lo = lon.to_numpy(zero_copy_only=False)
        la = lat.to_numpy(zero_copy_only=False)
        is_full = full.to_numpy(zero_copy_only=False)
        out = np.ones(len(pid), dtype=np.int8)  # full cells are Inside
        todo = ~is_full
        if todo.any():
            pid_t = pid[todo]
            idx_t = np.flatnonzero(todo)
            for p in np.unique(pid_t):
                mask = idx_t[pid_t == p]
                ext, holes = by_id[int(p)]
                out[mask] = polygon_position(lo[mask], la[mask], ext, holes)
        return pa.array(out)

    # full-cell shortcut: one pass — the UDF receives the `full` flag and
    # masks out the winding kernel for interior cells (Arrow still ships
    # the row, ~25 bytes, but no Python math runs for it). A filter/union
    # split would re-scan the upstream source twice.
    cand = cand.withColumn(
        "position",
        F.arrow_udf(position, T.ByteType())(
            F.col("polygon_id"), F.col(lon_col), F.col(lat_col), F.col("full")
        ),
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
