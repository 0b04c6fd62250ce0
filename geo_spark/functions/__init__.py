"""Spark SQL Column expression builders — the JVM-side fast path.

Everything here compiles to built-in Catalyst expressions (whole-stage
codegen, no Python), so the coarse phase of every spatial join — cell
encoding, neighbor-cell candidates, bbox prefilters, haversine distances —
runs entirely JVM-side. Only the exact winding-number refine drops to a
pandas UDF.

This module is the only Spark-side owner of the Z-order cell grid, the JVM
twin of ``index/cells.py`` (which owns the id layout, ``_Z_BITS``):

- ``cell_index_cols`` (lon/lat → clamped grid ix, iy) and ``cell_id_col``
  (ix, iy, res → cell id); ``cell_encode_col`` is the two composed;
- ``cell_xy_cols`` decodes an id back to (ix, iy), ``cell_parent_col``
  rolls it up;
- ``neighbor_cells`` explodes each row to the ids of its 3×3 cell block,
  or to a per-row-wide longitude ring (``lon_ring_width_col``), wrapping
  longitude and dropping rows past the poles — the candidate side of the
  kNN join, the range join, the DBSCAN/LOF halo and Voronoi;
- ``res_for_cell_height`` picks the finest grid whose cells span a
  distance.

Kernels mirrored here must match the numpy kernels bit-for-bit on the same
inputs (tested in tests/test_functions_sql.py):

- ``haversine_meters`` ⇄ kernels.measures.haversine_distance
  (GRS80 R1 = 6_371_008.8, min(a,1) clamp — haversine.rs:266-277);
- ``cell_encode_col`` ⇄ index.cells.cell_encode (Z-order bit-interleave,
  unrolled magic-mask spreading — pure integer Column ops);
- ``cell_xy_cols`` ⇄ index.cells.cell_decode;
- ``neighbor_cells`` ⇄ index.cells.disk_cells(cells, 1);
- ``rhumb_meters`` ⇄ kernels.measures.rhumb_distance.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geo_spark.index.cells import _Z_BITS

MEAN_EARTH_RADIUS = 6_371_008.8


def haversine_meters(lon1, lat1, lon2, lat2, radius: float = MEAN_EARTH_RADIUS) -> Column:
    """Great-circle distance in meters as a pure SQL expression."""
    lon1, lat1, lon2, lat2 = (F.col(c) if isinstance(c, str) else c for c in (lon1, lat1, lon2, lat2))
    theta1 = F.radians(lat1)
    theta2 = F.radians(lat2)
    dtheta = F.radians(lat2 - lat1)
    dlambda = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dtheta / 2), 2) + F.cos(theta1) * F.cos(theta2) * F.pow(
        F.sin(dlambda / 2), 2
    )
    a = F.least(a, F.lit(1.0))
    return F.lit(radius) * (F.lit(2.0) * F.asin(F.sqrt(a)))


def rhumb_meters(lon1, lat1, lon2, lat2, radius: float = MEAN_EARTH_RADIUS) -> Column:
    """Loxodrome distance in meters as a pure SQL expression."""
    import math

    lon1, lat1, lon2, lat2 = (F.col(c) if isinstance(c, str) else c for c in (lon1, lat1, lon2, lat2))
    pi = F.lit(math.pi)
    phi1 = F.radians(lat1)
    phi2 = F.radians(lat2)
    dl = F.radians(lon2 - lon1)
    dl = F.when(dl > pi, dl - 2 * pi).when(dl < -pi, dl + 2 * pi).otherwise(dl)
    # try_divide: the denominator is 0 at the south pole (degenerate rhumb)
    dpsi = F.log(F.try_divide(F.tan(phi2 / 2 + pi / 4), F.tan(phi1 / 2 + pi / 4)))
    dphi = phi2 - phi1
    # try_divide: ANSI mode (Spark 4 default) raises on /0 even when the
    # CASE branch is unreachable under whole-stage codegen
    q = F.when(F.abs(dpsi) > 1e-11, F.try_divide(dphi, dpsi)).otherwise(F.cos(phi1))
    delta = F.sqrt(dphi * dphi + q * q * dl * dl)
    return delta * F.lit(radius)


def _spread_bits_col(v: Column) -> Column:
    """Spread low 26 bits into even positions (Z-order) with Column bit math."""
    v = v.bitwiseAND(F.lit(0x3FFFFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return v


def _unspread_bits_col(v: Column) -> Column:
    """Gather even bit positions into the low bits (inverse of spreading)."""
    m = F.lit
    v = v.bitwiseAND(m(0x5555555555555555))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 1))).bitwiseAND(m(0x3333333333333333))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 2))).bitwiseAND(m(0x0F0F0F0F0F0F0F0F))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 4))).bitwiseAND(m(0x00FF00FF00FF00FF))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 8))).bitwiseAND(m(0x0000FFFF0000FFFF))
    v = (v.bitwiseOR(F.shiftrightunsigned(v, 16))).bitwiseAND(m(0x00000000FFFFFFFF))
    return v


def cell_index_cols(lon, lat, res: int) -> tuple[Column, Column]:
    """Clamped long grid indices (ix, iy) at ``res`` — matches
    index.cells._grid_index."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    n = 1 << res
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    ix = F.greatest(F.lit(0), F.least(ix, F.lit(n - 1))).cast("long")
    iy = F.greatest(F.lit(0), F.least(iy, F.lit(n - 1))).cast("long")
    return ix, iy


def cell_id_col(ix: Column, iy: Column, res: int) -> Column:
    """Cell id of long grid indices (ix, iy) at ``res``: the resolution
    prefix over their bit-interleave."""
    z = _spread_bits_col(ix).bitwiseOR(F.shiftleft(_spread_bits_col(iy), 1))
    return F.lit(res << _Z_BITS).bitwiseOR(z).cast("long")


def cell_encode_col(lon, lat, res: int) -> Column:
    """Z-order cell id at ``res`` — matches index.cells.cell_encode exactly."""
    ix, iy = cell_index_cols(lon, lat, res)
    return cell_id_col(ix, iy, res)


def cell_xy_cols(cell) -> tuple[Column, Column]:
    """Decode a cell id into (ix, iy) grid Columns — pure SQL bit math."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    z = cell.bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    ix = _unspread_bits_col(z)
    iy = _unspread_bits_col(F.shiftrightunsigned(z, 1))
    return ix.cast("long"), iy.cast("long")


def res_for_cell_height(height_deg: float) -> int:
    """Finest resolution ≤ 20 whose cells are at least ``height_deg`` tall
    (latitude cells, 180/2^r degrees, are the smaller side)."""
    res = 0
    while res < 20 and 180.0 / (1 << (res + 1)) >= height_deg:
        res += 1
    return res


def lon_ring_width_col(lat_col, res: int, need_lon_deg=None) -> Column:
    """Per-row half-width (in cells) of the longitude ring at ``res``.

    Rigorous coverage bound: for two points within the block's latitude
    band, haversine distance d and longitude separation Δλ (degrees) obey
    d ≥ (2/π)·R·cos(φmax)·Δλ_rad, i.e. Δλ_deg ≤ 90·d/(R·cos φmax).
    Given a required longitudinal reach ``need_lon_deg`` (a Column, degrees)
    the ring must span ceil(need/lon_cell_width) cells. With no explicit
    need, the ring is sized so its longitudinal metric reach matches the
    ±1-cell latitudinal reach: wx = ceil((π/4)/cos φmax) (lon cells are 2×
    as wide as lat cells in degrees).
    """
    n = 1 << res
    lon_w = 360.0 / n
    h_lat = 180.0 / n
    eff_lat = F.least(F.abs(lat_col) + F.lit(2.0 * h_lat), F.lit(89.999))
    cos_max = F.cos(F.radians(eff_lat))
    if need_lon_deg is None:
        wx = F.ceil(F.lit(_math.pi / 4.0) / cos_max)
    else:
        wx = F.ceil(need_lon_deg / F.lit(lon_w) / cos_max)
    return F.least(F.greatest(wx, F.lit(1)), F.lit(n // 2 + 1)).cast("int")


def neighbor_cells(
    df: DataFrame, lon: str, lat: str, res: int, lon_ring=None, with_grid: bool = False
) -> DataFrame:
    """Explode each row into its neighbor cells at ``res``: adds ``_cell``.

    Without ``lon_ring`` each row goes to its 3×3 cell block. ``lon_ring``
    (a Column, per-row half-width in cells, e.g. ``lon_ring_width_col``)
    widens the longitude reach to ±lon_ring; latitude stays ±1 because
    degree cells never shrink latitudinally. Longitude wraps, rows past the
    poles are dropped; at coarse resolutions a wrapping ring visits a cell
    more than once. ``with_grid`` also keeps the neighbor's grid indices
    ``_nx``, ``_ny`` and ``_is_home`` (true on the row's own cell) — columns,
    so that filters on them never inline the cell id expression.
    """
    n = 1 << res
    ix, iy = cell_index_cols(lon, lat, res)
    df = df.withColumn("_ix", ix).withColumn("_iy", iy)
    if lon_ring is None:
        offsets = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                            for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    else:
        # variable-width ring: flatten sequence(-wx..wx) × (-1,0,1)
        offsets = F.flatten(
            F.transform(
                F.sequence(-lon_ring, lon_ring),
                lambda dx: F.array(*[
                    F.struct(dx.cast("int").alias("dx"), F.lit(dy).alias("dy"))
                    for dy in (-1, 0, 1)
                ]),
            )
        )
    df = df.withColumn("_o", F.explode(offsets))
    nx = F.pmod(F.col("_ix") + F.col("_o.dx"), F.lit(n))  # lon wraps
    ny = F.col("_iy") + F.col("_o.dy")
    df = df.filter((ny >= 0) & (ny < n))
    if with_grid:
        df = (
            df.withColumn("_nx", nx)
            .withColumn("_ny", ny)
            .withColumn("_is_home", (F.col("_o.dx") == 0) & (F.col("_o.dy") == 0))
        )
        nx, ny = F.col("_nx"), F.col("_ny")
    return df.withColumn("_cell", cell_id_col(nx, ny.cast("long"), res)).drop(
        "_ix", "_iy", "_o"
    )


def cell_parent_col(cell, steps: int) -> Column:
    """Parent cell id ``steps`` levels up — matches index.cells.cell_parent.

    Implemented by decoding nothing: dropping 2*steps interleaved bits of the
    z-order suffix and retagging the resolution prefix.
    """
    cell = F.col(cell) if isinstance(cell, str) else cell
    res = F.shiftrightunsigned(cell, _Z_BITS)
    z = cell.bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    new_z = F.shiftrightunsigned(z, 2 * steps)
    return F.shiftleft(res - F.lit(steps), _Z_BITS).bitwiseOR(new_z).cast("long")


def bbox_contains_point(xmin, ymin, xmax, ymax, px, py) -> Column:
    """bbox ∋ point prefilter (closed bounds)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (xmin, ymin, xmax, ymax, px, py)]
    xmin, ymin, xmax, ymax, px, py = cols
    return (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)


def haversine_bearing_deg(lon1, lat1, lon2, lat2) -> Column:
    """Initial great-circle bearing in degrees [0, 360) — pure SQL
    (haversine.rs:185-196 formula)."""
    lon1, lat1, lon2, lat2 = (F.col(c) if isinstance(c, str) else c for c in (lon1, lat1, lon2, lat2))
    lng_a, lat_a = F.radians(lon1), F.radians(lat1)
    lng_b, lat_b = F.radians(lon2), F.radians(lat2)
    dl = lng_b - lng_a
    s = F.cos(lat_b) * F.sin(dl)
    c = F.cos(lat_a) * F.sin(lat_b) - F.sin(lat_a) * F.cos(lat_b) * F.cos(dl)
    return F.pmod(F.degrees(F.atan2(s, c)) + F.lit(360.0), F.lit(360.0))


def haversine_destination_cols(lon, lat, bearing_deg, meters,
                               radius: float = MEAN_EARTH_RADIUS):
    """(lon', lat') Columns after travelling ``meters`` along a great circle
    (haversine.rs:221-236) — pure SQL."""
    lon, lat = (F.col(c) if isinstance(c, str) else c for c in (lon, lat))
    bearing = F.lit(bearing_deg) if not isinstance(bearing_deg, Column) else bearing_deg
    meters = F.lit(meters) if not isinstance(meters, Column) else meters
    clng = F.radians(lon)
    clat = F.radians(lat)
    brad = F.radians(bearing)
    rad = meters / F.lit(radius)
    dlat = F.asin(F.sin(clat) * F.cos(rad) + F.cos(clat) * F.sin(rad) * F.cos(brad))
    dlng = F.atan2(
        F.sin(brad) * F.sin(rad) * F.cos(clat),
        F.cos(rad) - F.sin(clat) * F.sin(dlat),
    ) + clng
    out_lon = F.pmod(F.degrees(dlng) + F.lit(540.0), F.lit(360.0)) - F.lit(180.0)
    return out_lon, F.degrees(dlat)


def euclidean_meters(ax, ay, bx, by) -> Column:
    """Planar distance as SQL."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (ax, ay, bx, by)]
    ax, ay, bx, by = cols
    return F.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))


def distance_col(metric: str, ax, ay, bx, by) -> Column:
    """Point distance in ``metric``: 'haversine' (meters), 'planar'
    (degrees) or 'planar_sq' (squared degrees)."""
    if metric == "haversine":
        return haversine_meters(ax, ay, bx, by)
    if metric == "planar":
        return euclidean_meters(ax, ay, bx, by)
    if metric == "planar_sq":
        ax, ay, bx, by = (F.col(c) if isinstance(c, str) else c for c in (ax, ay, bx, by))
        dx = ax - bx
        dy = ay - by
        return dx * dx + dy * dy
    raise ValueError(f"unknown metric: {metric}")


def de9im_matches_col(matrix, pattern: str) -> Column:
    """SQL-side DE-9IM pattern match over a 9-char matrix string column.

    Pattern language of ``intersection_matrix.rs:799``: 'T' = any non-F,
    '*' = anything, '0'/'1'/'2'/'F' exact. Pure Column expressions —
    predicate filters over relate output stay in whole-stage codegen.
    """
    matrix = F.col(matrix) if isinstance(matrix, str) else matrix
    if len(pattern) != 9:
        raise ValueError("pattern must be 9 chars")
    cond = F.lit(True)
    for i, p in enumerate(pattern):
        if p == "*":
            continue
        ch = F.substring(matrix, i + 1, 1)
        cond = cond & ((ch != "F") if p == "T" else (ch == p))
    return cond


def de9im_touches_col(matrix) -> Column:
    """touches: FT******* | F**T***** | F***T**** (intersection_matrix.rs)."""
    return (
        de9im_matches_col(matrix, "FT*******")
        | de9im_matches_col(matrix, "F**T*****")
        | de9im_matches_col(matrix, "F***T****")
    )


def de9im_overlaps_areas_col(matrix) -> Column:
    """overlaps (area/area): T*T***T**."""
    return de9im_matches_col(matrix, "T*T***T**")


def web_mercator_x(lon) -> Column:
    """EPSG:3857 x — pure SQL (kernels/project.py closed form), JVM-side."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    return F.radians(lon) * F.lit(6378137.0)


def web_mercator_y(lat) -> Column:
    """EPSG:3857 y — pure SQL, JVM-side."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    return F.lit(6378137.0) * F.log(F.tan(F.lit(_math.pi / 4.0) + F.radians(lat) / 2))


def utm_zone_col(lon) -> Column:
    """Standard 6-degree UTM zone (1..60) — pure SQL."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    z = F.floor((lon + F.lit(180.0)) / F.lit(6.0)).cast("int") + 1
    return F.greatest(F.lit(1), F.least(z, F.lit(60)))
