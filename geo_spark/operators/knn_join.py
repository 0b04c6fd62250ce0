"""kNN join via cell ring expansion + exact distance refine + windowed top-k.

The distributed re-expression of the reference's BallTree kNN
(``geo/src/algorithm/ball_tree.rs:380-563``): instead of a driver-side tree,
candidates come from a cell-grid equi-join —

1. both sides get a Z-order cell id at a resolution chosen so a ring cell
   neighborhood is expected to hold ≥ k targets;
2. each query explodes to its ring of neighbor cells
   (``functions.neighbor_cells``, the grid every cell join shares) and
   equi-joins targets on the cell id — a plain shuffle join Catalyst/AQE can
   re-plan and skew-split. For the haversine metric the longitude ring is
   widened per row by ~1/cos(lat) so that the ring covers the same metric
   radius in every direction at every latitude (degree cells shrink
   longitudinally toward the poles);
3. exact distances (haversine SQL by default — JVM-side) + a
   ``Window.partitionBy(qid).orderBy(dist, tid)`` top-k;
4. a query's result is only *certified* when its k-th distance fits inside
   the radius the ring provably covered (so a full-looking top-k built from
   in-ring decoys can never mask a true neighbor outside the ring).
   Uncertified queries retry against a coarser resolution (4 levels up →
   16× the cell side) with the same certificate, and as a last resort the
   remaining stragglers (a tiny set by construction) brute-force against the
   full target table — the exactness backstop.

Each level's top-k is a ``localCheckpoint(eager=False)``: the straggler
count materializes it, the returned union reads the stored blocks instead
of re-running the candidate join, and Spark frees the blocks once the
returned DataFrame is unreachable. The checkpoint truncates lineage, so a
lost block fails the query instead of being recomputed (the trade
``polygonize_dist`` makes).

Result ordering matches BallTree semantics: ascending distance, ties broken
by target id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geo_spark.functions import (
    MEAN_EARTH_RADIUS,
    cell_encode_col,
    distance_col,
    lon_ring_width_col,
    neighbor_cells,
)

# meters per degree of latitude on the haversine sphere (R = 6371008.8)
_M_PER_DEG = math.pi * MEAN_EARTH_RADIUS / 180.0
# levels an uncertified query's retry ring steps up (16× the cell side)
_COARSE_RETRY_LEVELS = 4


def _covered_radius_col(metric: str, lat_col, res: int):
    """Radius (in the metric's own units) the ring at ``res`` provably covers.

    Any point strictly farther than this from the query is guaranteed to lie
    inside the joined cell block, so a top-k whose k-th distance is within
    this radius is exact. Lower bounds used (conservative):
    latitude: d ≥ R·Δφ_rad → 1 full cell covers h_lat·(πR/180) meters;
    longitude: d ≥ (2/π)·R·cos(φmax)·Δλ_rad over a ring of wx cells.
    """
    n = 1 << res
    h_lat = 180.0 / n
    if metric == "planar":
        return F.lit(h_lat)
    if metric == "planar_sq":
        return F.lit(h_lat * h_lat)
    # haversine (meters)
    eff_lat = F.least(F.abs(lat_col) + F.lit(2.0 * h_lat), F.lit(89.999))
    cos_max = F.cos(F.radians(eff_lat))
    wx = lon_ring_width_col(lat_col, res)
    lat_cover = F.lit(_M_PER_DEG * h_lat)
    lon_cover = F.lit((4.0 / math.pi) * _M_PER_DEG * h_lat) * cos_max * wx.cast("double")
    # full longitude wrap (2·wx+1 ≥ n): the ring covers every lon column, so
    # the only way out of the block is ≥ 1 full latitude cell — the lon term
    # (which collapses near the poles / at coarse res) no longer applies.
    # This keeps the certificate sound while rescuing coarse-res and
    # high-latitude queries from a needless retry cascade.
    full_wrap = (wx * 2 + F.lit(1)) >= F.lit(n)
    return F.when(full_wrap, lat_cover).otherwise(F.least(lat_cover, lon_cover))


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    res: int = 6,
    metric: str = "haversine",
    query_id: str = "qid",
    target_id: str = "tid",
    exclude_self: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """Return (query cols..., tid, dist, rank) — the k nearest targets per query.

    ``queries`` needs (query_id, lon, lat); ``targets`` (target_id, lon, lat).
    Exact for every metric: results are certified against the ring's covered
    radius; uncertified queries retry at progressively coarser levels
    (``res - 4``, ``res - 8``, … down to level 1), and only the remainder
    still uncertified at level 1 — a provably sparse tail (its 3×3
    neighborhood at level 1 spans ≥ a hemisphere) — takes the exhaustive
    level-1 join. ``stats_out`` (tests, perfbench): filled with
    ``brute_queries`` = that remainder's count.
    """
    q = queries.select(query_id, F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"))
    t = targets.select(target_id, F.col("lon").alias("_tlon"), F.col("lat").alias("_tlat"))

    def topk(cand: DataFrame) -> DataFrame:
        d = cand.withColumn("dist", distance_col(metric, "_qlon", "_qlat", "_tlon", "_tlat"))
        if exclude_self:
            d = d.filter(F.col(query_id) != F.col(target_id))
        w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(target_id).asc())
        return d.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    def candidates_at(qdf: DataFrame, res_: int) -> DataFrame:
        ring = lon_ring_width_col(F.col("_qlat"), res_) if metric == "haversine" else None
        qd = neighbor_cells(qdf, "_qlon", "_qlat", res_, lon_ring=ring)
        if ring is not None or res_ <= 1:
            # a full-wrap lon ring (near the poles) — or the static ±1 ring at
            # res ≤ 1 where n ≤ 2 columns exist — revisits cells after pmod;
            # duplicate candidates would corrupt row_number ranks. The exploded
            # query side is small (n_queries × ring cells), so dedupe it there.
            qd = qd.dropDuplicates([query_id, "_cell"])
        td = t.withColumn("_cell", cell_encode_col("_tlon", "_tlat", res_))
        return qd.join(td, "_cell").drop("_cell")

    def certified(topk_df: DataFrame, res_: int) -> DataFrame:
        """Query ids whose top-k is provably exact at ``res_``."""
        per_q = topk_df.groupBy(query_id).agg(
            F.count("*").alias("_n"),
            F.max("dist").alias("_kth"),
            F.first("_qlat").alias("_lat"),
        )
        rcov = _covered_radius_col(metric, F.col("_lat"), res_)
        return per_q.filter((F.col("_n") >= k) & (F.col("_kth") <= rcov)).select(query_id)

    first = topk(candidates_at(q, res)).localCheckpoint(eager=False)
    filled = certified(first, res)
    pieces = [first.join(filled, query_id, "left_semi")]
    stragglers = q.join(filled, query_id, "left_anti")
    # one cheap count per level ends the cascade as soon as the straggler
    # set drains: an empty set would otherwise still schedule the retry and
    # level-1 tail joins — each a full scan + shuffle of the target table —
    # for zero output rows (AQE only discovers the emptiness after the
    # target-side shuffle map stages have run)
    n_strag = stragglers.count()
    level = res
    while level > 1 and n_strag > 0:
        level = max(level - _COARSE_RETRY_LEVELS, 1)
        if level == 1:
            break
        retry = topk(candidates_at(stragglers, level)).localCheckpoint(eager=False)
        fl = certified(retry, level)
        pieces.append(retry.join(fl, query_id, "left_semi"))
        stragglers = stragglers.join(fl, query_id, "left_anti")
        n_strag = stragglers.count()
    if stats_out is not None:
        stats_out["brute_queries"] = n_strag
    # Exhaustive tail, still a bucketed join (no crossJoin): at level 1 the
    # 2×2 grid's ±1 wrap makes every target a candidate of every remaining
    # query, so this top-k is exact with NO certificate needed. The tail is
    # only queries uncertified at every coarser ring — a sparse-region/
    # adversarial remainder (bounded in tests via ``stats_out``).
    if n_strag > 0:
        pieces.append(topk(candidates_at(stragglers, 1)))
    from functools import reduce

    result = reduce(lambda a, b: a.unionByName(b), pieces)
    out = result.drop("_n").withColumnRenamed("_qlon", "qlon").withColumnRenamed("_qlat", "qlat")
    return out.withColumnRenamed("_tlon", "tlon").withColumnRenamed("_tlat", "tlat")
