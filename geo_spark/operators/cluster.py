"""Distributed clustering: cell-partitioned DBSCAN, LOF, k-means wrapper.

DBSCAN re-expressed for Spark (reference semantics:
``geo/src/algorithm/dbscan.rs:113-174``):

1. pick the finest resolution whose cells are at least 2×epsilon tall
   (``functions.res_for_cell_height``), so every point's
   epsilon-neighborhood is covered by its home cell plus the ring of 8
   neighbors;
2. replicate each point to neighbor cells whose rect lies within epsilon
   (``halo_cells``: the grid's 3×3 explode ``functions.neighbor_cells``
   filtered by the clamp distance from point to cell rect — pure SQL);
3. run the exact local DBSCAN kernel per cell over home+halo points
   (``applyInPandas``) — core/noise decisions for home points are exact
   because their whole neighborhood is present;
4. merge cross-cell clusters: a point labeled non-noise in several cells'
   runs witnesses that those (cell, local_label) clusters are one. Small
   witness-edge sets (within the ``dbscan.edges`` route budget) canonicalize
   with a driver union-find; larger ones run a fully distributed
   connected-components pass (min-label propagation + pointer jumping,
   O(log diameter) join rounds) — at web scale #clusters can reach 10⁷⁺ and
   must never be collected;
5. each point takes the canonical id of its home-cell label, or (if noise at
   home) the minimum canonical id among foreign assignments, else -1.

Both merge paths produce byte-identical cluster ids (components numbered
densely by their minimum (cell, label) key), so the choice is purely a
scale knob.

Scale notes: the only quadratic work is inside a cell (bounded by cell
size / chosen resolution); hot cells can be re-run at a finer resolution.
The merge state is O(#clusters), not O(#points), and is never collected on
the distributed path.

LOF runs per (cell + halo) the same way — exact for k-neighborhoods that fit
within epsilon-halo distance, the standard distributed approximation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_spark.functions import neighbor_cells, res_for_cell_height
from geo_spark.operators.route import fetch_if_small


def halo_cells(df: DataFrame, lon: str, lat: str, epsilon: float, res: int) -> DataFrame:
    """Explode each point to (``_cell``, ``_is_home``) rows: its home cell
    plus every neighbor cell whose rect is within ``epsilon`` (clamp
    distance from the point to the cell rect, pure SQL)."""
    n = 1 << res
    w = 360.0 / n
    h = 180.0 / n
    df = neighbor_cells(df, lon, lat, res, with_grid=True)
    cxmin = F.lit(-180.0) + F.col("_nx") * F.lit(w)
    cymin = F.lit(-90.0) + F.col("_ny") * F.lit(h)
    ddx = F.greatest(cxmin - F.col(lon), F.col(lon) - (cxmin + F.lit(w)), F.lit(0.0))
    ddy = F.greatest(cymin - F.col(lat), F.col(lat) - (cymin + F.lit(h)), F.lit(0.0))
    keep = F.col("_is_home") | (ddx * ddx + ddy * ddy <= F.lit(epsilon * epsilon))
    return df.filter(keep).drop("_nx", "_ny")


def _canon_driver(edge_rows, key_rows, spark) -> DataFrame | None:
    """Union-find on the driver → (cell, label, gid) DataFrame (small-N path)."""
    parent: dict = {}

    def find(k):
        parent.setdefault(k, k)
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    def union(p, q):
        rp, rq = find(p), find(q)
        if rp != rq:
            parent[max(rp, rq)] = min(rp, rq)

    for r in edge_rows:
        union((r["ca"], r["la"]), (r["cb"], r["lb"]))
    roots: dict = {}
    for r in sorted(find((k["cell"], k["label"])) for k in key_rows):
        if r not in roots:
            roots[r] = len(roots)
    canon_rows = [
        (k["cell"], k["label"], roots[find((k["cell"], k["label"]))]) for k in key_rows
    ]
    if not canon_rows:
        return None
    return spark.createDataFrame(canon_rows, schema="cell long, label long, gid long")


def _dist_row_number(df: DataFrame, cols: list, name: str) -> DataFrame:
    """Dense 0-based row ids ordered by ``cols`` WITHOUT a single-partition
    global Window: range-partition on the key, rank within each partition,
    then add cumulative partition offsets. ``repartitionByRange`` places
    ascending key ranges in ascending partition ids, so
    global_rank = offset(partition) + local_rank. The offset table is one
    row per partition — broadcast-joined back. Scales to 10^7+ keys where
    ``Window.orderBy`` with no partitionBy would funnel everything through
    one task."""
    from pyspark.sql import Window

    part = df.repartitionByRange(*[F.col(c) for c in cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("_pid").orderBy(*cols)
    local = part.withColumn("_loc", F.row_number().over(wloc).cast("long") - 1)
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        local.groupBy("_pid")
        .count()
        .withColumn("_off", F.coalesce(F.sum("count").over(woff), F.lit(0)).cast("long"))
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(name, (F.col("_off") + F.col("_loc")).cast("long"))
        .drop("_pid", "_loc", "_off")
    )


def _canon_distributed(edges: DataFrame, keys: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over (cell, label) vertices without collecting.

    Min-label propagation with pointer jumping: each round every vertex
    takes the minimum component id among itself and its neighbors, then
    follows its component pointer once (comp ← comp(comp)) — the doubling
    makes convergence O(log diameter) join rounds. Vertex ids are dense
    ranks of (cell, label), so the final component id is the minimum
    (cell, label) in the component and the dense ``gid`` numbering is
    byte-identical to the driver union-find path.
    """
    vids = (
        _dist_row_number(keys.select("cell", "label"), ["cell", "label"], "vid")
        .select("cell", "label", "vid")
        .localCheckpoint()
    )
    va = vids.select(
        F.col("cell").alias("ca"), F.col("label").alias("la"), F.col("vid").alias("src")
    )
    vb = vids.select(
        F.col("cell").alias("cb"), F.col("label").alias("lb"), F.col("vid").alias("dst")
    )
    e = edges.join(va, ["ca", "la"]).join(vb, ["cb", "lb"]).select("src", "dst")
    e = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    comp = vids.select("vid", F.col("vid").alias("comp"))
    for _ in range(max_iter):
        nb = (
            e.join(comp, e["src"] == comp["vid"])
            .groupBy("dst")
            .agg(F.min("comp").alias("nb"))
        )
        c2 = (
            comp.join(nb, comp["vid"] == nb["dst"], "left")
            .select(
                "vid",
                F.least(F.col("comp"), F.coalesce(F.col("nb"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )
        # pointer jump: comp ← comp(comp)
        cc = c2.select(F.col("vid").alias("v2"), F.col("comp").alias("c2"))
        c3 = (
            c2.join(cc, c2["comp"] == cc["v2"], "left")
            .select(c2["vid"], F.coalesce(cc["c2"], c2["comp"]).alias("comp"))
            .localCheckpoint()
        )
        changed = (
            c3.join(comp.withColumnRenamed("comp", "old"), "vid")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        comp = c3
        if changed == 0:
            break
    # dense gid by ascending component id == ascending min (cell, label)
    gids = _dist_row_number(comp.select("comp").distinct(), ["comp"], "gid")
    return (
        comp.join(gids, "comp")
        .join(vids, "vid")
        .select("cell", "label", "gid")
    )


def dbscan(
    points: DataFrame,
    epsilon: float,
    min_samples: int,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    include_core: bool = False,
) -> DataFrame:
    """(id, cluster bigint) — cluster ids canonical & deterministic, noise=-1.

    Witness edges beyond the ``dbscan.edges`` route budget
    (``operators.route``) merge as distributed connected components instead
    of a driver union-find. Both give identical ids.

    ``include_core`` adds an exact ``is_core`` boolean (|N_eps| >=
    min_samples). It is decided at the point's home cell, where the full
    epsilon-neighborhood is present by the halo-replication invariant, and
    the local kernel already computes it — no extra join or shuffle.

    The per-cell labels feed the edge fetch, the key collect and the
    returned plan, so they are a ``localCheckpoint(eager=False)``: the local
    kernel runs once, lineage is truncated there, and Spark frees the blocks
    with the returned DataFrame.
    """
    if res is None:
        res = res_for_cell_height(2.0 * epsilon)
    spark = points.sparkSession
    pts = halo_cells(
        points.select(id_col, lon_col, lat_col), lon_col, lat_col, epsilon, res
    )

    def local(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernels.cluster import dbscan_labels

        coords = pdf[[lon_col, lat_col]].to_numpy(dtype=np.float64)
        labels, core = dbscan_labels(coords, epsilon, min_samples, return_core=True)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["_cell"],
                "is_home": pdf["_is_home"],
                "label": labels,
                "core": core,
            }
        )

    # explicit numbered repartition on the cell: the halo table is
    # byte-tiny, so AQE would coalesce the groupBy shuffle to one task and
    # run every cell's kernel serially; REPARTITION_BY_NUM is exempt from
    # coalescing and already satisfies the applyInPandas clustering
    labeled = (
        pts.repartition(spark.sparkContext.defaultParallelism, "_cell")
        .groupBy("_cell")
        .applyInPandas(
            local,
            schema=f"{id_col} long, cell long, is_home boolean, label long, core boolean",
        )
        .localCheckpoint(eager=False)
    )

    # witness edges: same point non-noise in two different cells
    a = labeled.filter("label >= 0").select(
        id_col, F.col("cell").alias("ca"), F.col("label").alias("la")
    )
    b = labeled.filter("label >= 0").select(
        id_col, F.col("cell").alias("cb"), F.col("label").alias("lb")
    )
    edges = (
        a.join(b, id_col)
        .filter((F.col("ca") < F.col("cb")) | ((F.col("ca") == F.col("cb")) & (F.col("la") < F.col("lb"))))
        .select("ca", "la", "cb", "lb")
        .distinct()
    )
    keys = labeled.filter("label >= 0").select("cell", "label").distinct()

    # one job probes AND fetches the whole edge set when it fits the budget
    edge_rows = fetch_if_small(edges, "dbscan.edges")
    if edge_rows is not None:
        canon_df = _canon_driver(edge_rows, keys.collect(), spark)
        if canon_df is not None:
            with_gid = labeled.join(F.broadcast(canon_df), ["cell", "label"], "left")
        else:
            with_gid = labeled.withColumn("gid", F.lit(None).cast("long"))
    else:
        # big-merge path: the canon table may hold millions of clusters —
        # shuffle join, never broadcast, never collect
        canon_df = _canon_distributed(edges, keys)
        with_gid = labeled.join(canon_df, ["cell", "label"], "left")

    # home label wins; noise-at-home takes min foreign gid; else -1
    per_point = with_gid.groupBy(id_col).agg(
        F.min(F.when(F.col("is_home") & (F.col("label") >= 0), F.col("gid"))).alias("home_gid"),
        F.min(F.when(F.col("label") >= 0, F.col("gid"))).alias("any_gid"),
        F.max(F.when(F.col("is_home"), F.col("core"))).alias("is_core"),
    )
    out = per_point.select(
        F.col(id_col),
        F.coalesce(F.col("home_gid"), F.col("any_gid"), F.lit(-1)).alias("cluster"),
        F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
    )
    return out if include_core else out.drop("is_core")


def lof(
    points: DataFrame,
    k: int = 10,
    epsilon_halo: float = 1.0,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
) -> DataFrame:
    """(id, lof double) — Local Outlier Factor per point, cell-partitioned.

    Exact when each point's k-neighborhood lies within ``epsilon_halo`` of
    its home cell; otherwise the standard cell-local approximation.
    """
    if res is None:
        res = res_for_cell_height(2.0 * epsilon_halo)
    pts = halo_cells(
        points.select(id_col, lon_col, lat_col), lon_col, lat_col, epsilon_halo, res
    )

    def local(pdf: pd.DataFrame) -> pd.DataFrame:
        from geo_spark.kernels.cluster import lof_scores

        coords = pdf[[lon_col, lat_col]].to_numpy(dtype=np.float64)
        scores = lof_scores(coords, k)
        out = pdf[pdf["_is_home"]]
        return pd.DataFrame(
            {id_col: out[id_col], "lof": scores[pdf["_is_home"].to_numpy()]}
        )

    return pts.groupBy("_cell").applyInPandas(local, schema=f"{id_col} long, lof double")


def kmeans(
    points: DataFrame,
    k: int,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster) via Spark MLlib KMeans (built-in — the reference's
    ``kmeans/`` module maps directly onto pyspark.ml.clustering.KMeans)."""
    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.feature import VectorAssembler

    feat = VectorAssembler(inputCols=[lon_col, lat_col], outputCol="_features")
    assembled = feat.transform(points.select(id_col, lon_col, lat_col))
    model = MLKMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="_features").fit(
        assembled
    )
    return model.transform(assembled).select(
        F.col(id_col), F.col("prediction").cast("long").alias("cluster")
    )
