"""Column surface for the construction/validation kernels (batch 2).

Same conventions as operators/scalar.py: geometry in/out as
array<struct<x,y>> (rings) or multipolygon structs; every per-row kernel
runs through the geometry UDF adapter (operators/geom_udf.py), which owns
the Arrow wire format, the per-batch payload memo and output assembly.
Voronoi stays on grouped ``applyInPandas`` (one group = one diagram).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.operators import geom_udf as gu
from geo_spark.operators.geom_udf import COORDS_TYPE, MULTIPOLY_TYPE
from geo_spark.operators.route import fetch_if_small, fits


def _to_rows(coords: np.ndarray):
    return [{"x": float(x), "y": float(y)} for x, y in coords]


def buffer_ring(coords: Column, r, quad_segs: int = 8) -> Column:
    """Round-join buffer of a closed ring (as polygon) → multipolygon."""
    from geo_spark.kernels.buffer import buffer_polygon

    def buffer(ring, dist):
        return buffer_polygon(ring, (), float(dist), quad_segs)

    return gu.geom_udf(buffer, MULTIPOLY_TYPE)(gu.coords(coords), F.lit(r).cast("double"))


def relate_polygons(ext_a: Column, ints_a: Column, ext_b: Column, ints_b: Column) -> Column:
    """DE-9IM matrix string for two polygon columns (full RelateComputer
    semantics — kernels.relate2.relate_polygon_pair; parity
    ``relate/relate_operation.rs``, ``intersection_matrix.rs``)."""
    from geo_spark.kernels.relate2 import relate_polygon_pair

    return gu.geom_udf(relate_polygon_pair, T.StringType())(
        gu.polygon(ext_a, ints_a), gu.polygon(ext_b, ints_b)
    )


def make_valid_col(exterior: Column, interiors: Column) -> Column:
    """Repair a polygon column (odd-even prepair semantics) → multipolygon.

    Parity: ``MakeValid`` (``repair_polygon/mod.rs``) via
    kernels.repair.make_valid — always emits a valid multipolygon."""
    from geo_spark.kernels.repair import make_valid

    return gu.geom_udf(make_valid, MULTIPOLY_TYPE)(gu.polygon(exterior, interiors))


def multipolygon_area(mp: Column) -> Column:
    """Unsigned area of a multipolygon column (shoelace; holes subtract).

    Parity: ``Area`` over MultiPolygon (``geo/src/algorithm/area.rs``) —
    sum over pieces of |exterior| − Σ|holes|.
    """
    from geo_spark.kernels.area import pieces_area

    return gu.geom_udf(pieces_area, T.DoubleType())(gu.multipolygon(mp))


def concave_hull_points(coords: Column, concavity: float = 2.0) -> Column:
    from geo_spark.kernels.hull2 import concave_hull

    return gu.geom_udf(lambda pts: concave_hull(pts, concavity), COORDS_TYPE)(gu.coords(coords))


def triangulate(coords: Column) -> Column:
    """Ear-cut triangle index triples of a ring: array<array<int>>."""
    from geo_spark.kernels.geom2 import triangulate_earcut

    return gu.geom_udf(triangulate_earcut, "array<array<int>>")(gu.coords(coords))


def validity_problems(exterior: Column, interiors: Column) -> Column:
    from geo_spark.kernels.geom2 import validate_polygon

    return gu.geom_udf(validate_polygon, T.ArrayType(T.StringType()))(
        gu.polygon(exterior, interiors)
    )


def interior_point_col(exterior: Column, interiors: Column) -> Column:
    from geo_spark.kernels.geom2 import interior_point

    return gu.geom_udf(interior_point, "struct<x:double,y:double>")(
        gu.polygon(exterior, interiors)
    )


def voronoi_of_group(
    df: DataFrame,
    group_col: str = "group_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str | None = None,
) -> DataFrame:
    """Per-group Voronoi cells: one output row per input site with its cell.

    ``id_col`` (optional, long) is passed through so each cell stays joined
    to its site's identifier."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernels.triangulate import voronoi_cells

        pts = pdf[[lon_col, lat_col]].to_numpy(dtype=np.float64)
        cells = voronoi_cells(pts)
        out = {group_col: pdf[group_col].to_numpy()}
        if id_col is not None:
            out[id_col] = pdf[id_col].to_numpy()
        out[lon_col] = pts[:, 0]
        out[lat_col] = pts[:, 1]
        out["cell_ring"] = [_to_rows(c) for c in cells]
        return pd.DataFrame(out)

    dtypes = dict(df.dtypes)  # carry caller's group/id types (strings work)
    id_part = f"{id_col} {dtypes[id_col]}, " if id_col is not None else ""
    schema = (
        f"{group_col} {dtypes[group_col]}, {id_part}{lon_col} double, {lat_col} double, "
        "cell_ring array<struct<x:double,y:double>>"
    )
    return df.groupBy(group_col).applyInPandas(fn, schema=schema)


def unary_union_rings(rings: Column) -> Column:
    """struct<n_pieces,area>: union of an array-of-exterior-rings column.

    Per-row n-way union (kernels/boolops.unary_union — the reference's
    ``unary_union``, bool_ops/mod.rs:259): pieces after merging + total area.
    """
    from geo_spark.kernels.area import pieces_area
    from geo_spark.kernels.boolops import unary_union

    def union_stats(rs):
        merged = unary_union([(r, []) for r in rs])
        return len(merged), pieces_area(merged)

    return gu.geom_udf(union_stats, "struct<n_pieces:int,area:double>")(gu.rings(rings))


def delaunay_stitch_stats(coords: Column) -> Column:
    """struct<n_tri,n_pieces,area>: Delaunay-triangulate a point-set column,
    stitch the triangles back (kernels/stitch.py), return triangle count,
    stitched piece count and stitched area.

    Parity: TriangulateDelaunay (delaunay triangle set) + StitchTriangles
    (stitch.rs:25 — union of edge-adjacent triangles).
    """
    from geo_spark.kernels.area import pieces_area
    from geo_spark.kernels.stitch import stitch_triangles
    from geo_spark.kernels.triangulate import delaunay

    def stitch_stats(pts):
        tris = delaunay(pts)
        stitched = stitch_triangles([pts[list(t)] for t in tris])
        return len(tris), len(stitched), pieces_area(stitched)

    return gu.geom_udf(stitch_stats, "struct<n_tri:int,n_pieces:int,area:double>")(
        gu.coords(coords)
    )


def buffer_polygon_stats(
    exterior: Column,
    interiors: Column,
    r: float,
    join: str = "round",
    quad_segs: int = 8,
    mitre_limit: float = 5.0,
) -> Column:
    """struct<n_pieces,area>: buffer (dilate r>0 / erode r<0) of a polygon
    column with the requested LineJoin style (buffer.rs:14-23,59 —
    round/mitre/bevel)."""
    from geo_spark.kernels.area import pieces_area
    from geo_spark.kernels.buffer import buffer_polygon

    def buffer_stats(ext, holes):
        out = buffer_polygon(ext, holes, r, quad_segs, join, mitre_limit)
        return len(out), pieces_area(out)

    return gu.geom_udf(buffer_stats, "struct<n_pieces:int,area:double>")(
        gu.polygon(exterior, interiors)
    )


def voronoi_distributed(
    sites: DataFrame,
    id_col: str = "site_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    group_col: str | None = None,
    clip_rect: tuple | None = None,
    res: int | None = None,
    target_sites_per_tile: int = 400,
) -> DataFrame:
    """Exact Voronoi with NO single-task global stage — tile+halo
    certificate construction (voronoi.rs:216 semantics; cells clipped to
    ``clip_rect``, defaulting per group to the same bbox+10% rect as
    ``kernels.triangulate.voronoi_cells``).

    Pass 1 (tile-parallel): sites replicate to every tile within halo
    distance h via the clamp-distance rule (one shuffle); each (group,
    tile) runs local ``voronoi_cells`` over home+halo sites. Local cells
    are SUPERSETS of the true cells (fewer sites → bigger cells), so the
    certificate is per-site and exact: with R = max distance from the site
    to its local-cell vertices, any non-local site q has |q−s| > h, and can
    clip only if some cell point v has |v−q| ≤ |v−s| ≤ R while
    |v−q| ≥ |q−s| − |v−s| > h − R — impossible when R < h/2. Certified
    cells are final.

    Pass 2 (per-site-parallel completion): a clipping site q of an
    uncertified s satisfies |q−s| ≤ 2·|v−s| ≤ 2R, so gathering ALL the
    group's sites within 2R and clipping the rect by their bisectors
    (``voronoi_cell_of_site``) is exact. Rounds of doubling tile size turn
    the gather into a bucketed equi-join (a 3×3 neighborhood at the round's
    resolution covers radius 2R once 2R ≤ tile height); each round only
    touches still-unfinished sites. Uncertified sites are the domain
    boundary + sparse-region tail (~1% measured at 20k uniform sites), so
    the whole construction is a sequence of bucketed joins + per-site
    work — the 100 TB shape.

    ``group_col``: independent diagram per group (the reference's
    per-geometry semantics). Per-group clip rects are collected to the
    driver — one row per group, fine up to ~10⁵ groups.

    Tile size comes from the DATA extent (not the world): tiles aim for
    ``target_sites_per_tile`` home sites, the halo radius is ~8 typical
    spacings (replication factor ~1-3), so the certificate passes for all
    interior sites.

    Returns (group?, id, lon, lat, cell_ring) like ``voronoi_of_group``.
    """
    import math

    from geo_spark.functions import cell_encode_col, neighbor_cells
    from geo_spark.operators.cluster import halo_cells

    gcol = group_col
    if gcol is None:
        sites = sites.withColumn("_grp", F.lit(0))
        gcol = "_grp"
    s = sites.select(gcol, id_col, lon_col, lat_col)
    # carry the caller's group/id types through both applyInPandas schemas
    # (string region keys etc. — no integer-group restriction)
    dtypes = dict(s.dtypes)
    gtype, itype = dtypes[gcol], dtypes[id_col]
    ring_t = "array<struct<x:double,y:double>>"
    out_schema = (
        f"{gcol} {gtype}, {id_col} {itype}, {lon_col} double, {lat_col} double, "
        f"cell_ring {ring_t}"
    )
    # Small-side driver path (the "voronoi.sites" route): within budget, one
    # fetch + the local kernel beats the 3 sequential job waves (bbox aggs,
    # pass-1 materialize, completion) whose scheduling dominates at small n.
    # The local kernel is the distributed construction's parity reference
    # (same clip-rect formula, same cell constructor), so rings agree up to
    # rotation.
    fetched = fetch_if_small(s, "voronoi.sites")
    if fetched is not None:
        from geo_spark.kernels.triangulate import voronoi_cells

        by_group: dict = {}
        for r in fetched:
            by_group.setdefault(r[0], []).append((r[1], r[2], r[3]))
        out_rows = []
        for g, members in by_group.items():
            pts = np.asarray([(m[1], m[2]) for m in members], dtype=np.float64)
            rect = tuple(clip_rect) if clip_rect is not None else None
            cells = voronoi_cells(pts, clip_rect=rect)
            for (mid, mlon, mlat), ring in zip(members, cells):
                out_rows.append((g, mid, float(mlon), float(mlat), _to_rows(ring)))
        out = sites.sparkSession.createDataFrame(out_rows, out_schema)
        return out if group_col is not None else out.drop(gcol)
    s = s.cache()
    aggs = (
        s.groupBy(gcol)
        .agg(
            F.min(lon_col).alias("x0"), F.max(lon_col).alias("x1"),
            F.min(lat_col).alias("y0"), F.max(lat_col).alias("y1"),
            F.count("*").alias("cnt"),
        )
        .collect()
    )
    n = sum(r["cnt"] for r in aggs)
    # Grouped middle route: when every group individually fits the
    # "voronoi.sites" budget (but the total does not), one applyInPandas
    # task per group runs the local kernel — groups in parallel across
    # executors, no tile machinery, same rings (voronoi_of_group IS the
    # parity reference). Only taken for per-group default clip rects, which
    # the kernel reproduces bit-identically from the same bbox+10% formula.
    if (
        group_col is not None
        and clip_rect is None
        and fits(max(r["cnt"] for r in aggs), "voronoi.sites")
    ):
        return voronoi_of_group(
            s, group_col=gcol, lon_col=lon_col, lat_col=lat_col, id_col=id_col
        )
    rects = {}
    xmin = min(r["x0"] for r in aggs); xmax = max(r["x1"] for r in aggs)
    ymin = min(r["y0"] for r in aggs); ymax = max(r["y1"] for r in aggs)
    for r in aggs:
        if clip_rect is not None:
            rects[r[gcol]] = tuple(clip_rect)
        else:
            mx = (r["x1"] - r["x0"] or 1.0) * 0.1
            my = (r["y1"] - r["y0"] or 1.0) * 0.1
            rects[r[gcol]] = (r["x0"] - mx, r["y0"] - my, r["x1"] + mx, r["y1"] + my)
    area = max((xmax - xmin) * (ymax - ymin), 1e-12)
    spacing = math.sqrt(area / max(n, 1))
    if res is None:
        tile_h = math.sqrt(target_sites_per_tile * area / (2.0 * max(n, 1)))
        res = max(1, min(18, round(math.log2(180.0 / max(tile_h, 1e-9)))))
    h = min(180.0 / (1 << res), 8.0 * spacing)

    halo = halo_cells(s, lon_col, lat_col, h, res)

    ring_t = "array<struct<x:double,y:double>>"
    schema1 = (
        f"{gcol} {gtype}, {id_col} {itype}, {lon_col} double, {lat_col} double, "
        f"cell_ring {ring_t}, certified boolean, r double"
    )

    def pass1(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernels.triangulate import voronoi_cells

        rect = rects[key[0]]
        pts = pdf[[lon_col, lat_col]].to_numpy(dtype=np.float64)
        cells = voronoi_cells(pts, clip_rect=rect)
        home = pdf["_is_home"].to_numpy()
        ids = pdf[id_col].to_numpy()
        rows = {gcol: [], id_col: [], lon_col: [], lat_col: [], "cell_ring": [],
                "certified": [], "r": []}
        for i in np.flatnonzero(home):
            ring = cells[i]
            if len(ring):
                d = np.hypot(ring[:, 0] - pts[i, 0], ring[:, 1] - pts[i, 1])
                r = float(d.max())
            else:
                r = float("inf")
            rows[gcol].append(key[0])
            rows[id_col].append(ids[i])
            rows[lon_col].append(float(pts[i, 0]))
            rows[lat_col].append(float(pts[i, 1]))
            rows["cell_ring"].append(_to_rows(ring))
            rows["certified"].append(bool(r < 0.5 * h))
            rows["r"].append(r)
        out = pd.DataFrame(rows)
        # halo-only tiles emit 0 rows; pandas would type the empty cell_ring
        # column float64, which Arrow can't convert to list<struct>
        out["cell_ring"] = out["cell_ring"].astype(object)
        return out

    p1 = halo.groupBy(gcol, "_cell").applyInPandas(pass1, schema=schema1).cache()
    done = p1.filter("certified").select(gcol, id_col, lon_col, lat_col, "cell_ring")
    todo = p1.filter("NOT certified").select(gcol, id_col, lon_col, lat_col, "r").cache()

    schema2 = (
        f"{gcol} {gtype}, {id_col} {itype}, {lon_col} double, {lat_col} double, "
        f"cell_ring {ring_t}"
    )

    def pass2(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernels.triangulate import voronoi_cell_of_site

        rect = rects[pdf["_sgrp"].iloc[0]]
        real = pdf[pdf["_cand_id"].notna()].sort_values("_cand_id", kind="mergesort")
        p = (float(pdf["_slon"].iloc[0]), float(pdf["_slat"].iloc[0]))
        nb = real[["_clon", "_clat"]].to_numpy(dtype=np.float64)
        ring = voronoi_cell_of_site(np.asarray(p), nb, rect)
        return pd.DataFrame(
            {
                gcol: [pdf["_sgrp"].iloc[0]],
                id_col: [pdf["_sid"].iloc[0]],
                lon_col: [p[0]],
                lat_col: [p[1]],
                "cell_ring": [_to_rows(ring)],
            }
        )

    # single completion round: one resolution coarse enough that a 3×3
    # neighborhood covers every uncertified site's 2R gather radius (the
    # uncertified set is the boundary/sparse tail — ~1% — so the extra
    # candidates from the shared coarse resolution are negligible, and one
    # bucketed join replaces a per-resolution round loop)
    stats = todo.agg(
        F.count("*").alias("n"), F.max("r").alias("rmax")
    ).first()
    results = [done]
    if stats["n"] and stats["n"] > 0:
        rmax = float(stats["rmax"])
        rk = res
        while rk > 0 and 180.0 / (1 << rk) < 2.0 * rmax:
            rk -= 1
        u = neighbor_cells(todo, lon_col, lat_col, rk).select(
            F.col(gcol).alias("_sgrp"),
            F.col(id_col).alias("_sid"),
            F.col(lon_col).alias("_slon"),
            F.col(lat_col).alias("_slat"),
            F.col("r").alias("_r"),
            F.col("_cell").alias("_tile"),
        )
        bucketed = s.select(
            F.col(gcol).alias("_sgrp"),
            F.col(id_col).alias("_cand_id"),
            F.col(lon_col).alias("_clon"),
            F.col(lat_col).alias("_clat"),
            cell_encode_col(lon_col, lat_col, rk).alias("_tile"),
        )
        d2 = (F.col("_clon") - F.col("_slon")) ** 2 + (F.col("_clat") - F.col("_slat")) ** 2
        cand = (
            u.join(bucketed, ["_sgrp", "_tile"])
            .filter((F.col("_cand_id") != F.col("_sid")) & (d2 <= (2.0 * F.col("_r")) ** 2))
            .dropDuplicates(["_sgrp", "_sid", "_cand_id"])
            .select("_sgrp", "_sid", "_slon", "_slat", "_cand_id", "_clon", "_clat")
        )
        # a base row per site guarantees output even with zero in-radius
        # candidates (the cell is then the whole rect)
        base_rows = todo.select(
            F.col(gcol).alias("_sgrp"),
            F.col(id_col).alias("_sid"),
            F.col(lon_col).alias("_slon"),
            F.col(lat_col).alias("_slat"),
            F.lit(None).cast(itype).alias("_cand_id"),
            F.lit(0.0).alias("_clon"),
            F.lit(0.0).alias("_clat"),
        )
        # explicit numbered repartition on the group keys: the candidate
        # table is byte-tiny, so AQE would coalesce the groupBy shuffle to
        # ONE task and serialize every per-site clip; REPARTITION_BY_NUM is
        # exempt from coalescing and already satisfies the applyInPandas
        # clustering (no second exchange)
        npart = s.sparkSession.sparkContext.defaultParallelism
        out = (
            cand.unionByName(base_rows)
            .repartition(npart, "_sgrp", "_sid")
            .groupBy("_sgrp", "_sid")
            .applyInPandas(pass2, schema=schema2)
        )
        results.append(out)

    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), results)
    if group_col is None:
        merged = merged.drop(gcol)
    return merged


def polygonize_lines(lines: Column) -> Column:
    """Polygonize an array-of-linestrings column → multipolygon
    (kernels/polygonize.py — JTS Polygonizer ring assembly: dangles and cut
    edges dropped, faces to shells, negative cycles to holes of the
    smallest strictly-containing shell)."""
    from geo_spark.kernels.polygonize import polygonize

    def faces(seqs):
        segs = []
        for seq in seqs:
            for i in range(len(seq) - 1):
                segs.append(
                    (
                        (float(seq[i, 0]), float(seq[i, 1])),
                        (float(seq[i + 1, 0]), float(seq[i + 1, 1])),
                    )
                )
        return polygonize(segs)

    return gu.geom_udf(faces, MULTIPOLY_TYPE)(gu.rings(lines))


def spade_triangulation_all_stats(exterior: Column, interiors: Column) -> Column:
    """All three TriangulateSpade modes in ONE pass (unconstrained Delaunay
    + one CDT, constrained derived by the interior filter) — struct
    <n_un,area_un,n_outer,area_outer,n_con,area_con>."""
    from geo_spark.kernels.triangulate import spade_triangulation_all, triangles_area

    def all_stats(ext, holes):
        pts, un, outer, con = spade_triangulation_all([ext] + holes)
        return (
            len(un), triangles_area(pts, un),
            len(outer), triangles_area(pts, outer),
            len(con), triangles_area(pts, con),
        )

    return gu.geom_udf(
        all_stats,
        "struct<n_un:int,area_un:double,n_outer:int,area_outer:double,"
        "n_con:int,area_con:double>",
    )(gu.polygon(exterior, interiors))
