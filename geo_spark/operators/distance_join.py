"""Within-distance (range) join: all pairs closer than a threshold.

Cell-grid candidate generation (same shape as the kNN join, SURVEY §2.7
"range/distance join", on the grid ``geo_spark.functions`` owns): pick the
finest resolution whose cells are at least ``max_dist`` tall
(``res_for_cell_height``), explode the left side to its 3×3 cell
neighborhood (``neighbor_cells``), and equi-join the right side on the cell
id — every pair within ``max_dist`` is guaranteed to co-locate. The exact
distance filter (``distance_col``) then runs JVM-side.

Metrics: 'planar' / 'planar_sq' (degrees) or 'haversine' (meters). For
haversine, the latitude ring stays ±1 (degree cells never shrink
latitudinally) while the longitude ring widens per row by a rigorous
1/cos(lat) coverage bound, so pairs are found at every latitude including
the polar caps (the ring degenerates to the full parallel when cos(lat)
becomes tiny — still bounded work, and only for near-pole rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_spark.functions import (
    MEAN_EARTH_RADIUS,
    cell_encode_col,
    distance_col,
    lon_ring_width_col,
    neighbor_cells,
    res_for_cell_height,
)


def within_distance_join(
    left: DataFrame,
    right: DataFrame,
    max_dist: float,
    metric: str = "planar",
    left_id: str = "lid",
    right_id: str = "rid",
    dedup_pairs: bool = False,
) -> DataFrame:
    """(lid, rid, dist) for all cross pairs with dist <= max_dist.

    ``dedup_pairs=True`` keeps only lid < rid (self-join use-case).
    """
    lon_ring = None
    if metric in ("planar", "planar_sq"):
        dist_deg = max_dist if metric == "planar" else max_dist ** 0.5
    elif metric == "haversine":
        # meters → lat-degrees (conservative: 1° lat spans ≥ 111195 m on the
        # haversine sphere, so dividing by 111000 over-covers latitudinally)
        dist_deg = max_dist / 111_000.0
    else:
        raise ValueError(f"unknown metric: {metric}")
    res = res_for_cell_height(dist_deg)
    if metric == "haversine":
        # longitudinal reach: Δλ_deg ≤ 90·d/(R·cos φmax) — the ring width
        # helper divides by cos(φmax) per row and clamps to a full wrap
        need_lon = F.lit(90.0 * max_dist / MEAN_EARTH_RADIUS)
        lon_ring = lon_ring_width_col(F.col("_llat"), res, need_lon_deg=need_lon)

    l = left.select(left_id, F.col("lon").alias("_llon"), F.col("lat").alias("_llat"))
    r = right.select(right_id, F.col("lon").alias("_rlon"), F.col("lat").alias("_rlat"))
    ld = neighbor_cells(l, "_llon", "_llat", res, lon_ring=lon_ring)
    rd = r.withColumn("_cell", cell_encode_col("_rlon", "_rlat", res))
    cand = ld.join(rd, "_cell").drop("_cell")

    dist = distance_col(metric, "_llon", "_llat", "_rlon", "_rlat")

    out = cand.withColumn("dist", dist).filter(F.col("dist") <= F.lit(max_dist))
    if dedup_pairs:
        out = out.filter(F.col(left_id) < F.col(right_id))
    return out.select(left_id, right_id, "dist").dropDuplicates([left_id, right_id])
