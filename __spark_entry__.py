"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (CC-style docs → point
extraction → PIP join vs admin polygons → per-polygon counts).
``queries()``/``oracle_sql()`` expose each implemented operator from
SURVEY.md §2 with a DuckDB-checkable ANSI-SQL oracle.

Determinism strategy for the value-hash gate: every float that crosses the
Spark↔DuckDB boundary is either (a) produced by bit-identical IEEE double
arithmetic on both sides (derived coordinates, planar distances, min/max),
or (b) rounded/integerized where the engines' libm may differ in the final
ulp (haversine → ROUND(,0); money sums → integer cents).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared deterministic point derivation (documents.doc_id → lon/lat)
# The same integer arithmetic runs in Spark and DuckDB: multiplicative-hash
# micro-degrees, a 25% hotspot (1°×1° at 10-20E band, exercising skew), and a
# +1 nudge keeping every coordinate off the 10° grid lines.
# ---------------------------------------------------------------------------

_LON_MD = (
    "CASE WHEN doc_id % 4 = 0 THEN 10000000 + (doc_id * 2654435761) % 1000000 "
    "ELSE (doc_id * 2654435761) % 360000000 - 180000000 END"
)
_LAT_MD = (
    "CASE WHEN doc_id % 4 = 0 THEN 50000000 + (doc_id * 2246822519) % 1000000 "
    "ELSE (doc_id * 2246822519) % 180000000 - 90000000 END"
)
# CAST(... AS DOUBLE): Spark SQL parses the 1000000.0 literal as DECIMAL and
# would propagate exact-decimal lon/lat; both engines must divide in binary
# float64 so every downstream comparison is bit-identical.
_PTS_CTE = f"""
  SELECT doc_id,
    CAST(CASE WHEN lon_md % 10000000 = 0 THEN lon_md + 1 ELSE lon_md END AS DOUBLE)
      / CAST(1000000 AS DOUBLE) AS lon,
    CAST(CASE WHEN lat_md % 10000000 = 0 THEN lat_md + 1 ELSE lat_md END AS DOUBLE)
      / CAST(1000000 AS DOUBLE) AS lat
  FROM (SELECT doc_id, {_LON_MD} AS lon_md, {_LAT_MD} AS lat_md FROM documents) t
"""

_GRID_PID = (
    "CAST(FLOOR((lat + 90.0) / 10.0) AS BIGINT) * 36 "
    "+ CAST(FLOOR((lon + 180.0) / 10.0) AS BIGINT)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _derived_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    docs.createOrReplaceTempView("documents")
    return spark.sql(_PTS_CTE)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synth CC docs → extract → PIP join vs admin grid → counts.

    Uses the real text-extraction path (synth documents with geo: markers),
    not the arithmetic derivation, so the whole pipeline is exercised.
    """
    from geo_spark.operators.extract import extract_points
    from geo_spark.operators.pip_join import pip_join_points_polygons
    from geo_spark.sources.documents import synth_admin_polygons, synth_documents

    docs = synth_documents(spark, 5000)
    pts = extract_points(docs)
    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=True)
    joined = pip_join_points_polygons(pts, polys, predicate="contains")
    return (
        joined.groupBy("polygon_id")
        .agg(F.count("*").alias("n_points"))
        .orderBy(F.col("n_points").desc(), F.col("polygon_id"))
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_pip_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.pip_join import pip_join_points_polygons
    from geo_spark.sources.documents import synth_admin_polygons

    pts = _derived_points(spark, sf_dir)
    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=False)
    joined = pip_join_points_polygons(pts, polys, predicate="contains")
    return joined.groupBy("polygon_id").agg(F.count("*").alias("n"))


def _q_pip_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.pip_join import pip_join_points_polygons
    from geo_spark.sources.documents import synth_admin_polygons

    pts = _derived_points(spark, sf_dir)
    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=True)
    joined = pip_join_points_polygons(pts, polys, predicate="contains")
    return joined.groupBy("polygon_id").agg(F.count("*").alias("n"))


def _q_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.functions import haversine_meters

    pts = _derived_points(spark, sf_dir)
    return pts.select(
        "doc_id",
        F.round(haversine_meters("lon", "lat", F.lit(-74.006), F.lit(40.7128)), 0).alias(
            "dist_m"
        ),
    )


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.knn_join import knn_join

    pts = _derived_points(spark, sf_dir)
    queries = pts.filter(F.col("doc_id") % 50 == 0).withColumnRenamed("doc_id", "qid")
    targets = pts.withColumnRenamed("doc_id", "tid")
    out = knn_join(
        queries, targets, k=5, res=3, metric="planar_sq", exclude_self=True
    )
    return out.select("qid", "tid", F.col("dist").alias("dist_sq"), "rank")


def _q_knn_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the north-star kNN shape: ring expansion on Z-cells (with per-row
    # 1/cos(lat) longitude widening) + EXACT haversine refinement and
    # covered-radius certification (operators/knn_join.py)
    from geo_spark.operators.knn_join import knn_join

    pts = _derived_points(spark, sf_dir)
    queries = pts.filter(F.col("doc_id") % 40 == 0).withColumnRenamed("doc_id", "qid")
    targets = pts.withColumnRenamed("doc_id", "tid")
    out = knn_join(queries, targets, k=3, res=3, metric="haversine", exclude_self=True)
    return out.select("qid", "tid", F.round("dist", 0).alias("dist_m"), "rank")


_KNN_HAVERSINE_ORACLE = f"""
    WITH pts AS ({_PTS_CTE}),
    q AS (SELECT doc_id AS qid, lon, lat FROM pts WHERE doc_id % 40 = 0),
    d AS (
      SELECT q.qid, t.doc_id AS tid,
             6371008.8 * 2.0 * ASIN(SQRT(LEAST(
               POW(SIN(RADIANS(t.lat - q.lat) / 2.0), 2)
               + COS(RADIANS(q.lat)) * COS(RADIANS(t.lat))
               * POW(SIN(RADIANS(t.lon - q.lon) / 2.0), 2), 1.0))) AS dist
      FROM q JOIN pts t ON t.doc_id <> q.qid
    ),
    rk AS (
      SELECT qid, tid, dist,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, tid) AS rank
      FROM d
    )
    SELECT qid, tid, ROUND(dist, 0) AS dist_m, CAST(rank AS INT) AS rank
    FROM rk WHERE rank <= 3
"""


def _q_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.tile_agg import tile_counts

    pts = _derived_points(spark, sf_dir)
    return tile_counts(pts, res=4, salt_buckets=8).select("ix", "iy", "n")


def _q_bbox_by_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.tile_agg import tile_counts

    pts = _derived_points(spark, sf_dir)
    return tile_counts(
        pts,
        res=2,
        extra_aggs=[
            F.min("lon").alias("xmin"),
            F.min("lat").alias("ymin"),
            F.max("lon").alias("xmax"),
            F.max("lat").alias("ymax"),
        ],
    ).select("ix", "iy", "n", "xmin", "ymin", "xmax", "ymax")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.ann import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = cosine_topk(emb, queries, k=10)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cos_r"), "rank")


def _q_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "sum_base_cents"
        ),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000, 0
            ).cast("bigint")
        ).alias("revenue_micros"),
        F.count("*").alias("count_order"),
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def _q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
                "total_cents"
            ),
        )
    )


def _q_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 1000000, 0).cast("bigint")).alias("value_micros"),
    )


def _q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.tile_agg import tile_counts, tile_rollup

    pts = _derived_points(spark, sf_dir)
    r4 = tile_counts(pts, res=4).select("tile", "n")
    return tile_rollup(r4, steps=2).select("ix", "iy", "n")


def _q_within_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.distance_join import within_distance_join

    pts = _derived_points(spark, sf_dir)
    left = pts.withColumnRenamed("doc_id", "lid")
    right = pts.withColumnRenamed("doc_id", "rid")
    return within_distance_join(
        left, right, max_dist=0.5, metric="planar", dedup_pairs=True
    )


def _q_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.functions import haversine_bearing_deg

    pts = _derived_points(spark, sf_dir)
    return pts.select(
        "doc_id",
        F.round(
            haversine_bearing_deg("lon", "lat", F.lit(-74.006), F.lit(40.7128)), 6
        ).alias("bearing_deg"),
    )


def _q_rhumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.functions import rhumb_meters

    pts = _derived_points(spark, sf_dir)
    return pts.select(
        "doc_id",
        F.round(rhumb_meters("lon", "lat", F.lit(-74.006), F.lit(40.7128)), 0).alias(
            "rhumb_m"
        ),
    )


def _q_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.functions import haversine_destination_cols

    pts = _derived_points(spark, sf_dir)
    bearing = F.pmod(F.col("doc_id").cast("double"), F.lit(360.0))
    dlon, dlat = haversine_destination_cols("lon", "lat", bearing, F.lit(100_000.0))
    return pts.select(
        "doc_id",
        F.round(dlon, 8).alias("dest_lon"),
        F.round(dlat, 8).alias("dest_lat"),
    )


def _q_events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    micros = F.round(F.col("value") * 1000000, 0).cast("bigint")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        F.sum(micros).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "running_micros"
        ),
        F.lag(micros, 1, 0).over(w).alias("prev_micros"),
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # classic web-log sessionization: a new session starts after a >30 min
    # gap; emits per-session aggregates — pure window SQL on both engines
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("_new", new_sess).withColumn(
        "session_idx", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.sum(F.round(F.col("value") * 1000000, 0).cast("bigint")).alias("value_micros"),
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.dedup import ngram_jaccard_pairs
    from geo_spark.operators.textstats import token_stats

    docs = _docs(spark, sf_dir)
    toks = token_stats(docs).select("doc_id", "n_tokens")
    eligible = docs.join(toks.filter(F.col("n_tokens") >= 3), "doc_id")
    ids = eligible.select("doc_id")
    pairs = (
        ids.withColumnRenamed("doc_id", "id_a")
        .join(
            ids.withColumnRenamed("doc_id", "id_b"),
            F.col("id_b") == F.col("id_a") + 1,
        )
    )
    out = ngram_jaccard_pairs(docs, pairs, ngram=3)
    return out.select("id_a", "id_b", "n_inter", "n_union", "jaccard")


# --- non-SQL-expressible operators: rows-only driver checks ---------------


def _q_hull_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # oracle-checkable form: hull vertices exploded as rows; the group key is
    # an arithmetic lang code both engines compute identically, and the
    # DuckDB oracle re-derives the hull via the extreme-point characterization
    # (∃ q: every other point is strictly left of p→q, or collinear in front)
    from geo_spark.operators.hulls import convex_hull_per_group

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    pts = _derived_points(spark, sf_dir).join(docs, "doc_id")
    lang_id = (
        F.ascii(F.substring("lang", 1, 1)) * 256 + F.ascii(F.substring("lang", 2, 1))
    ).cast("long")
    pts = pts.withColumn("group_id", lang_id)
    hulls = convex_hull_per_group(pts)
    verts = hulls.select(
        F.col("group_id").alias("lang_id"),
        F.explode(
            F.slice(F.col("hull"), F.lit(1), F.greatest(F.size("hull") - 1, F.lit(0)))
        ).alias("v"),
    )
    return verts.select("lang_id", F.col("v.x").alias("x"), F.col("v.y").alias("y"))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5_60 gram hashes → DuckDB recomputes the identical signature matrix
    # (the uint64-wrapping permutation arithmetic is mirrored in HUGEINT),
    # so the full LSH pipeline is value-hash gated
    from geo_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5, hasher="md5_60")


def _minhash_oracle_sql(source: str = "documents") -> str:
    """DuckDB twin of minhash_lsh_pairs(threshold=0.5, hasher='md5_60').

    Rebuilds the signature matrix from scratch: 3-gram md5_60 hashes, the 64
    fixed (A,B) permutation constants (numpy RandomState(42), embedded as
    literals), and numpy's wrap-mod-2^64 arithmetic emulated in HUGEINT.
    A pair qualifies when some 4-row band matches exactly (band equality ⟺
    Spark's band-hash equality modulo 2^-32 collisions) and est ≥ 0.5.
    ``source``: relation with (doc_id, text) to pair over (the tiered-dedup
    oracle passes its survivor CTE).
    """
    import numpy as np

    m61 = (1 << 61) - 1
    rng = np.random.RandomState(42)
    A = rng.randint(1, m61, size=64, dtype=np.int64)
    B = rng.randint(0, m61, size=64, dtype=np.int64)
    two64 = "18446744073709551616"
    perm_cols = ",\n                   ".join(
        f"COALESCE(CAST(list_min(list_transform(h, x -> "
        f"(((CAST({A[i]} AS HUGEINT) * x) % {two64} + {B[i]}) % {two64}) % {m61}"
        f")) AS BIGINT), {B[i] % m61}) AS s{i}"
        for i in range(64)
    )
    est = "(" + " + ".join(f"CAST(a.s{i} = b.s{i} AS INT)" for i in range(64)) + ") / 64.0"
    band = " OR ".join(
        "(" + " AND ".join(f"a.s{4 * bb + j} = b.s{4 * bb + j}" for j in range(4)) + ")"
        for bb in range(16)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM {source}
        ),
        g AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= 3 THEN list_transform(
                          range(1, len(t) - 1),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                      WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                      ELSE [] END AS grams
          FROM toks
        ),
        gh AS (
          SELECT doc_id, list_transform(grams,
                   s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)) AS h
          FROM g
        ),
        sig AS (
          SELECT doc_id,
                 {perm_cols}
          FROM gh
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, {est} AS est_jaccard
        FROM sig a JOIN sig b ON b.doc_id > a.doc_id
        WHERE ({band}) AND {est} >= 0.5
    """


def _simhash_pairs_sql(source: str = "documents", max_hamming: int = 6) -> str:
    """DuckDB twin of simhash_near_pairs: md5_60 token hashes → per-bit sign
    votes → 60-bit fingerprint; brute-force pairs at Hamming ≤ max_hamming
    (the engine's pigeonhole banding has exact recall, so set equality
    holds). ``source``: any (doc_id, text) relation."""
    return f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM {source}
            ),
            th AS (
              SELECT doc_id,
                     UNNEST(list_transform(t,
                       s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT))) AS h
              FROM toks
            ),
            votes AS (
              SELECT doc_id, bb.b AS b,
                     CAST(SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END)
                          AS BIGINT) AS v
              FROM th, (SELECT UNNEST(range(0, 60)) AS b) bb
              GROUP BY doc_id, bb.b
            ),
            fp AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN v > 0
                                   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                          AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id
            ),
            allfp AS (
              SELECT d.doc_id, CAST(COALESCE(f.simhash, 0) AS BIGINT) AS simhash
              FROM {source} d LEFT JOIN fp f USING (doc_id)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM allfp a JOIN allfp b ON b.doc_id > a.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _q_dedup_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tiered dedup lineage (exact → simhash → minhash+Jaccard-verify, each
    # tier only over prior survivors): per-doc (tier, dup_of) is fully
    # re-derived by DuckDB from the same md5_60 hash arithmetic, so the
    # entire cascade — including the survivor-filter between tiers — is
    # value-hash gated
    from geo_spark.operators.dedup import dedup_tiered

    out = dedup_tiered(_docs(spark, sf_dir), hasher="md5_60")
    return out.select(
        "doc_id",
        F.coalesce("tier", F.lit("keep")).alias("tier"),
        F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
    )


def _dedup_tiered_oracle_sql() -> str:
    # nested WITH blocks: DuckDB scopes outer CTEs (s1, s2) into the
    # embedded simhash/minhash subquery statements
    return f"""
    WITH ex AS (
      SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY text) AS keep
      FROM documents
    ),
    s1 AS (SELECT doc_id, text FROM ex WHERE keep = doc_id),
    sp AS ({_simhash_pairs_sql('s1', 6)}),
    t2 AS (SELECT id_b AS doc_id, MIN(id_a) AS dup_of FROM sp GROUP BY id_b),
    s2 AS (SELECT doc_id, text FROM s1
           WHERE doc_id NOT IN (SELECT doc_id FROM t2)),
    mp AS ({_minhash_oracle_sql('s2')}),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
                      range(1, len(t) - 1),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
                  ELSE [array_to_string(t, ' ')] END AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM s2)
    ),
    ver AS (
      SELECT mp.id_a, mp.id_b
      FROM mp JOIN g ga ON ga.doc_id = mp.id_a
              JOIN g gb ON gb.doc_id = mp.id_b
      WHERE CASE WHEN len(ga.grams) + len(gb.grams)
                      - len(list_intersect(ga.grams, gb.grams)) = 0 THEN 0.0
                 ELSE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                      / (len(ga.grams) + len(gb.grams)
                         - len(list_intersect(ga.grams, gb.grams)))
            END >= 0.5
    ),
    t3 AS (SELECT id_b AS doc_id, MIN(id_a) AS dup_of FROM ver GROUP BY id_b)
    SELECT e.doc_id,
           COALESCE(CASE WHEN e.keep <> e.doc_id THEN 'exact' END,
                    CASE WHEN t2.doc_id IS NOT NULL THEN 'simhash' END,
                    CASE WHEN t3.doc_id IS NOT NULL THEN 'minhash' END,
                    'keep') AS tier,
           CAST(COALESCE(CASE WHEN e.keep <> e.doc_id THEN e.keep END,
                    t2.dup_of, t3.dup_of, -1) AS BIGINT) AS dup_of
    FROM ex e LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
"""


def _q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream-stream interval join (streaming/joins.py): signup events are a
    # slowly-changing dimension-version stream, other events the fact
    # stream; the watermark-bounded validity join runs under availableNow
    # and the sunk rows aggregate to a batch-SQL-equivalent summary, so the
    # whole stream-stream join is value-hash gated against DuckDB
    from geo_spark.streaming.joins import run_events_enrich_available_now

    sunk = run_events_enrich_available_now(spark, f"{sf_dir}/events.parquet")
    return sunk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


_STREAMING_ENRICH_ORACLE = """
    WITH f AS (SELECT * FROM events WHERE event_type <> 'signup'),
    d AS (SELECT user_id, ts AS effective_ts FROM events
          WHERE event_type = 'signup')
    SELECT f.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(f.value) AS DOUBLE), 2) AS sum_value,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users
    FROM f JOIN d ON f.user_id = d.user_id
                 AND f.ts >= d.effective_ts
                 AND f.ts < d.effective_ts + INTERVAL 7 DAY
    GROUP BY f.event_type
"""


def _q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JTS-Polygonizer ring assembly (kernels/polygonize.py, certified by the
    # TestPolygonize corpus): two s-squares sharing an edge + an inner
    # island + a dangling chain per doc → dangle dropped, 3 polygons, the
    # island double-emitted (hole of the left shell AND standalone) —
    # closed-form counts and area
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geometry2 import polygonize_lines

    df = ensure_parallelism(_abc(spark, sf_dir), heavy=True).selectExpr(
        "doc_id", "CAST(1 + doc_id % 5 AS DOUBLE) AS s"
    )
    chains = F.expr(
        """
        array(
          array(struct(s AS x, s AS y), struct(0.0d AS x, s AS y),
                struct(0.0d AS x, 0.0d AS y), struct(s AS x, 0.0d AS y)),
          array(struct(s AS x, s AS y), struct(s AS x, 0.0d AS y)),
          array(struct(s AS x, s AS y), struct(2.0d * s AS x, s AS y),
                struct(2.0d * s AS x, 0.0d AS y), struct(s AS x, 0.0d AS y)),
          array(struct(0.2d * s AS x, 0.8d * s AS y), struct(0.8d * s AS x, 0.8d * s AS y),
                struct(0.8d * s AS x, 0.2d * s AS y), struct(0.2d * s AS x, 0.2d * s AS y),
                struct(0.2d * s AS x, 0.8d * s AS y)),
          array(struct(0.0d AS x, 2.0d * s AS y), struct(s AS x, 3.0d * s AS y))
        )
        """
    )
    from geo_spark.operators.scalar import ring_area_sql

    mp = polygonize_lines(chains)

    def piece_area(p):
        return F.abs(ring_area_sql(p["exterior"])) - F.aggregate(
            p["interiors"], F.lit(0.0), lambda a, h: a + F.abs(ring_area_sql(h))
        )

    # area JVM-side (shoelace via higher-order SQL — rings are tiny here)
    area = F.aggregate(mp, F.lit(0.0), lambda acc, p: acc + piece_area(p))
    return df.select(
        "doc_id",
        F.size(mp).alias("n_polys"),
        F.aggregate(
            mp, F.lit(0), lambda acc, p: acc + F.size(p["interiors"])
        ).cast("int").alias("n_holes"),
        F.round(area, 9).alias("area"),
    )


_POLYGONIZE_ORACLE = """
    SELECT doc_id,
           3 AS n_polys, 1 AS n_holes,
           ROUND(2.0 * s * s, 9) AS area
    FROM (SELECT doc_id, CAST(1 + doc_id % 5 AS DOUBLE) AS s FROM documents)
"""


def _q_transform_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reprojection (proj.rs analogue, kernels/project.py): Web Mercator
    # forward is closed-form (DuckDB recomputes it), UTM (Krüger 6th-order)
    # is gated by the round-trip identity at 1e-7 deg — the kernel's
    # absolute accuracy is pytest-gated against the Karney meridian arc
    from geo_spark.functions import utm_zone_col, web_mercator_x, web_mercator_y
    from geo_spark.operators.scalar import utm_project, utm_unproject

    from geo_spark.operators.dedup import ensure_parallelism

    pts = ensure_parallelism(_derived_points(spark, sf_dir)).withColumn(
        "slat", F.col("lat") * F.expr("CAST(0.9 AS DOUBLE)")
    )
    u = utm_project(F.col("lon"), F.col("slat"))
    rt = utm_unproject(u["easting"], u["northing"], u["zone"], u["south"])
    return pts.select(
        "doc_id",
        F.round(web_mercator_x("lon"), 3).alias("wm_x"),
        F.round(web_mercator_y("slat"), 3).alias("wm_y"),
        utm_zone_col("lon").cast("int").alias("zone"),
        F.round(rt["lon"], 7).alias("rt_lon"),
        F.round(rt["lat"], 7).alias("rt_lat"),
    )


_TRANSFORM_ORACLE = f"""
    WITH p AS ({_PTS_CTE})
    SELECT doc_id,
      ROUND(RADIANS(lon) * 6378137.0, 3) AS wm_x,
      ROUND(6378137.0 * LN(TAN(PI() / 4.0
            + RADIANS(lat * CAST(0.9 AS DOUBLE)) / 2.0)), 3) AS wm_y,
      CAST(GREATEST(1, LEAST(CAST(FLOOR((lon + 180.0) / 6.0) AS INT) + 1, 60))
           AS INT) AS zone,
      ROUND(lon, 7) AS rt_lon,
      ROUND(lat * CAST(0.9 AS DOUBLE), 7) AS rt_lat
    FROM p
"""


def _q_spade_triangulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # constrained Delaunay (TriangulateSpade parity, triangulate_spade.rs):
    # per doc a u-notched square (8 vertices, 6 on its hull counting the
    # collinear bottom points). Closed forms: point-set triangulations have
    # 2V−h−2 triangles (unconstrained & constrained-outer: 8, hull area
    # s²), the simple polygon has V−2 = 6 with the polygon's own area
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geometry2 import spade_triangulation_all_stats

    df = ensure_parallelism(_abc(spark, sf_dir), heavy=True).selectExpr(
        "doc_id", "CAST(3 + doc_id % 5 AS DOUBLE) AS s"
    )
    ring = F.expr(
        """
        array(struct(0.0d AS x, 0.0d AS y),
              struct(s / 3 AS x, 0.0d AS y),
              struct(s / 3 AS x, s / 3 AS y),
              struct(2 * s / 3 AS x, s / 3 AS y),
              struct(2 * s / 3 AS x, 0.0d AS y),
              struct(s AS x, 0.0d AS y),
              struct(s AS x, s AS y),
              struct(0.0d AS x, s AS y),
              struct(0.0d AS x, 0.0d AS y))
        """
    )
    no_holes = F.array().cast("array<array<struct<x:double,y:double>>>")
    df = df.withColumn("ring", ring)
    st = spade_triangulation_all_stats(F.col("ring"), no_holes)
    return df.select(
        "doc_id",
        st["n_un"].alias("n_unconstrained"),
        F.round(st["area_un"], 9).alias("hull_area_u"),
        st["n_outer"].alias("n_outer"),
        F.round(st["area_outer"], 9).alias("hull_area_o"),
        st["n_con"].alias("n_constrained"),
        F.round(st["area_con"], 9).alias("poly_area"),
    )


_SPADE_ORACLE = """
    SELECT doc_id,
           8 AS n_unconstrained, ROUND(s * s, 9) AS hull_area_u,
           8 AS n_outer, ROUND(s * s, 9) AS hull_area_o,
           6 AS n_constrained,
           ROUND(s * s - (s / 3) * (s / 3), 9) AS poly_area
    FROM (SELECT doc_id, CAST(3 + doc_id % 5 AS DOUBLE) AS s FROM documents)
"""


def _q_gc_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GeometryCollection as a first-class column (operators/gc.py tagged-GC
    # schema, geometry/mod.rs:50): per doc a GC mixing point + line + square
    # by doc_id residue exercises all three dimension phases of the
    # centroid rule (centroid.rs:36 / JTS Centroid) — closed-form oracle
    from geo_spark.operators.gc import gc_centroid, gc_dimension

    from geo_spark.operators.dedup import ensure_parallelism

    pts = ensure_parallelism(_derived_points(spark, sf_dir))
    gc = F.expr(
        """
        filter(array(
          named_struct('kind', 'point',
            'rings', array(array(named_struct('x', lon, 'y', lat)))),
          CASE WHEN doc_id % 3 <> 2 THEN named_struct('kind', 'linestring',
            'rings', array(array(named_struct('x', lon, 'y', lat),
                                 named_struct('x', lon + 1.0d, 'y', lat + 2.0d))))
          END,
          CASE WHEN doc_id % 3 = 0 THEN named_struct('kind', 'polygon',
            'rings', array(array(named_struct('x', lon, 'y', lat),
                                 named_struct('x', lon + 0.5d, 'y', lat),
                                 named_struct('x', lon + 0.5d, 'y', lat + 0.5d),
                                 named_struct('x', lon, 'y', lat + 0.5d),
                                 named_struct('x', lon, 'y', lat))))
          END
        ), m -> m IS NOT NULL)
        """
    )
    df = pts.withColumn("gc", gc)
    c = gc_centroid(F.col("gc"))
    return df.select(
        "doc_id",
        gc_dimension(F.col("gc")).cast("int").alias("dim"),
        F.round(c["x"], 6).alias("cx"),
        F.round(c["y"], 6).alias("cy"),
    )


_GC_CENTROID_ORACLE = f"""
    WITH p AS ({_PTS_CTE})
    SELECT doc_id,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 2
                WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS INT) AS dim,
      ROUND(CASE WHEN doc_id % 3 = 0 THEN lon + 0.25
                 WHEN doc_id % 3 = 1 THEN lon + 0.5
                 ELSE lon END, 6) AS cx,
      ROUND(CASE WHEN doc_id % 3 = 0 THEN lat + 0.25
                 WHEN doc_id % 3 = 1 THEN lat + 1.0
                 ELSE lat END, 6) AS cy
    FROM p
"""


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-level winnowing (pure SQL, md5_60 hashes) — DuckDB reproduces
    # the identical fingerprint set with list ops, so this is value-hash gated
    from geo_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), ngram=3, window=4)


def _q_buffered_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.geometry2 import buffer_ring
    from geo_spark.sources.documents import synth_admin_polygons

    from geo_spark.operators.geometry2 import multipolygon_area

    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=False).filter(
        F.col("polygon_id") % 37 == 0
    )
    # 10°-square buffered by 0.5 with quad_segs=8 round joins: one piece with
    # analytic area A + P·r + (32-gon circle) — the DuckDB oracle recomputes it
    return polys.select(
        "polygon_id", buffer_ring(F.col("exterior"), 0.5).alias("buffered")
    ).select(
        "polygon_id",
        F.size("buffered").alias("n_pieces"),
        F.round(multipolygon_area(F.col("buffered")), 6).alias("area_r"),
    )


def _q_polygon_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.geometry2 import validity_problems

    # deterministic invalid variants make the validator oracle-checkable:
    # pid%13==5 → bowtie exterior (zero-area + self-intersection = 2 problems);
    # pid%13==7 → ring truncated to 3 points (too few points = 1);
    # else pid%34==0 → hole translated outside the shell (= 1); else 0.
    polys = _mutated_grid(spark)
    return polys.select(
        "polygon_id",
        F.size(validity_problems(F.col("m_ext"), F.col("m_holes"))).alias(
            "n_problems"
        ),
    )


def _q_voronoi_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed per-group Voronoi (tile+halo certificate construction —
    # operators/geometry2.voronoi_distributed): no single-task global stage;
    # output parity with voronoi_of_group is pytest-gated up to ring rotation
    from geo_spark.operators.geometry2 import voronoi_distributed

    pts = _derived_points(spark, sf_dir)
    pts = pts.withColumn("group_id", F.pmod(F.col("doc_id"), F.lit(3)))
    cells = voronoi_distributed(
        pts, id_col="doc_id", group_col="group_id"
    )
    return cells.select(
        "group_id", "lon", "lat", F.size("cell_ring").alias("n_ring_pts")
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.dedup import simhash_near_pairs

    out = simhash_near_pairs(_docs(spark, sf_dir), max_hamming=6)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _mutated_grid(spark: SparkSession) -> DataFrame:
    """Grid polygons with the deterministic invalid variants (shared with
    polygon_validation and make_valid_grid): pid%13==5 bowtie exterior,
    pid%13==7 truncated ring, else pid%34==0 hole shifted outside."""
    from geo_spark.sources.documents import synth_admin_polygons

    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=True)
    pid = F.col("polygon_id")
    ext = F.col("exterior")
    bowtie = F.array(
        F.element_at(ext, 1),
        F.element_at(ext, 3),
        F.element_at(ext, 2),
        F.element_at(ext, 4),
        F.element_at(ext, 5),
    )
    mut_ext = (
        F.when(pid % 13 == 5, bowtie)
        .when(pid % 13 == 7, F.slice(ext, 1, 3))
        .otherwise(ext)
    )
    shifted = F.transform(
        F.col("interiors"),
        lambda ring: F.transform(
            ring, lambda p: F.struct((p["x"] + 30.0).alias("x"), p["y"].alias("y"))
        ),
    )
    mut_holes = F.when(
        (pid % 13 != 5) & (pid % 13 != 7) & (pid % 34 == 0), shifted
    ).otherwise(F.col("interiors"))
    return polys.withColumn("m_ext", mut_ext).withColumn("m_holes", mut_holes)


def _q_make_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prepair odd-even repair of the deterministic invalid grid variants:
    # bowtie → two triangles (area 50), truncated ring → closed triangle
    # (50), hole-outside-shell → shell + island (104), holed cell → 96,
    # plain cell → 100 — all closed-form for the oracle
    from geo_spark.operators.geometry2 import make_valid_col, multipolygon_area

    df = _mutated_grid(spark)
    repaired = make_valid_col(F.col("m_ext"), F.col("m_holes"))
    return df.select(
        "polygon_id", repaired.alias("fixed")
    ).select(
        "polygon_id",
        F.size("fixed").alias("n_pieces"),
        F.round(multipolygon_area(F.col("fixed")), 6).alias("area_r"),
    )


def _q_relate_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full DE-9IM relate (kernels/relate2.py) over deterministic polygon
    # pairs: each grid cell vs itself shifted east by a half cell (overlap),
    # a whole cell (edge touch), or two cells (disjoint) — the oracle knows
    # each pid's exact matrix
    from geo_spark.functions import de9im_overlaps_areas_col, de9im_touches_col
    from geo_spark.operators.geometry2 import relate_polygons
    from geo_spark.sources.documents import synth_admin_polygons

    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=False).filter(
        F.col("polygon_id") % 5 == 0
    )
    pid = F.col("polygon_id")
    shift = (
        F.when(pid % 3 == 0, F.lit(5.0))
        .when(pid % 3 == 1, F.lit(10.0))
        .otherwise(F.lit(20.0))
    )
    ext_b = F.transform(
        F.col("exterior"),
        lambda p: F.struct((p["x"] + shift).alias("x"), p["y"].alias("y")),
    )
    no_holes = F.array().cast("array<array<struct<x:double,y:double>>>")
    df = polys.withColumn(
        "matrix", relate_polygons(F.col("exterior"), no_holes, ext_b, no_holes)
    )
    return df.select(
        "polygon_id",
        "matrix",
        de9im_touches_col("matrix").alias("touches"),
        de9im_overlaps_areas_col("matrix").alias("overlaps"),
    )


def _q_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Karney ellipsoidal geodesic (kernels/geodesic.py) — exact everywhere
    # incl. the antipodal region where Vincenty diverges. Rows-only: DuckDB
    # has no geodesic solver to oracle against; correctness is pinned by the
    # reference-doctest goldens in tests/test_geodesic.py.
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geodesic_ops import geodesic_bearing_deg, geodesic_meters

    # size-aware spread: the Karney solver is vectorized numpy per Arrow
    # batch, so 1-2 partitions suffice at driver scale (measured 0.7 s) and
    # the bytes-based target scales partitions with the input
    pts = ensure_parallelism(_derived_points(spark, sf_dir))
    return pts.select(
        "doc_id",
        F.round(geodesic_meters("lon", "lat", F.lit(-74.006), F.lit(40.7128)), 0).alias(
            "geodesic_m"
        ),
        F.round(
            geodesic_bearing_deg("lon", "lat", F.lit(-74.006), F.lit(40.7128)), 6
        ).alias("geo_bearing"),
    )


def _q_embed_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dedup: the corpus (no natural near-dups) is
    # augmented with deterministic perturbed copies (v'_i = v_i + 0.05·v_rot)
    # so the banded sign-sketch LSH has true positives to find. Planes are
    # the sin-matrix both engines synthesize, so DuckDB reproduces the exact
    # candidate set, not just the verified answer.
    from geo_spark.operators.ann import cosine_near_pairs, sin_planes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    vd = F.col("embedding")
    planted = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.element_at(vd, i) + 0.05 * F.element_at(vd, (i % 64) + 1),
        ).alias("embedding"),
    )
    allv = base.unionByName(planted)
    out = cosine_near_pairs(allv, threshold=0.8, planes=sin_planes())
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cos_r"))


def _embed_near_oracle_sql() -> str:
    """DuckDB twin of _q_embed_near_pairs: same sin-planes sketch bands
    (list_reduce left folds match Spark's aggregate fold ordering), same
    bucket-equality candidate generation, same exact-cosine verify."""
    band_cols = ",\n                 ".join(
        "("
        + " + ".join(
            f"CASE WHEN d[{8 * t + k + 1}] >= 0 THEN {1 << k} ELSE 0 END"
            for k in range(8)
        )
        + f") AS b{t}"
        for t in range(8)
    )
    band_match = " OR ".join(f"a.b{t} = b.b{t}" for t in range(8))
    dot = (
        "list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),"
        " (x, y) -> x + y)"
    )
    norm = "sqrt(list_reduce(list_transform(range(1, 65), i -> {s}.v[i] * {s}.v[i]), (x, y) -> x + y))"
    cos = f"({dot}) / ({norm.format(s='a')} * {norm.format(s='b')})"
    return f"""
        WITH base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        planted AS (
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(range(1, 65), i -> v[i] + 0.05 * v[1 + (i % 64)]) AS v
          FROM base WHERE vec_id % 50 = 0
        ),
        allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        dots AS (
          SELECT vec_id, v,
                 list_transform(range(0, 64), p -> list_reduce(
                   list_transform(range(1, 65),
                     i -> SIN(CAST(p * 64 + i AS DOUBLE)) * v[i]),
                   (x, y) -> x + y)) AS d
          FROM allv
        ),
        sk AS (
          SELECT vec_id, v,
                 {band_cols}
          FROM dots
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos}, 6) AS cos_r
        FROM sk a JOIN sk b ON b.vec_id > a.vec_id AND ({band_match})
        WHERE {cos} >= 0.8
    """


# ---------------------------------------------------------------------------
# closed-form-oracle queries for the remaining SURVEY-§2 operator families
# (round 3): deterministic synthetic shapes derived from doc_id with
# analytically known outputs, so DuckDB can verify every family end-to-end.
# Shared params: a = 1 + doc_id%7, b = 1 + doc_id%5, c = b + 1.
# ---------------------------------------------------------------------------

_TRAPEZOID = (
    "array(struct(0.0d AS x, 0.0d AS y), struct(a AS x, 0.0d AS y), "
    "struct(a AS x, b AS y), struct(0.0d AS x, c AS y), "
    "struct(0.0d AS x, 0.0d AS y))"
)


def _abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO blanket repartition here: _abc feeds both µs-per-row queries
    # (centroid, affine) where a 32-task spread swamps the compute, and
    # heavy kernels (spade, polygonize) which call
    # ensure_parallelism(heavy=True) themselves at their own call sites
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "CAST(1 + doc_id % 7 AS DOUBLE) AS a",
        "CAST(1 + doc_id % 5 AS DOUBLE) AS b",
        "CAST(2 + doc_id % 5 AS DOUBLE) AS c",
    )


def _q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # polygon centroid (shoelace moments, centroid.rs:36) of a trapezoid
    # (0,0)(a,0)(a,b)(0,c) — closed form Cx=a(2b+c)/(3(b+c)), Cy=(b²+c(b+c))/(3(b+c))
    from geo_spark.operators.scalar import centroid

    df = _abc(spark, sf_dir).withColumn("ring", F.expr(_TRAPEZOID))
    cen = centroid(F.col("ring"), kind="polygon")
    return df.select(
        "doc_id",
        F.round(cen["x"], 9).alias("cx"),
        F.round(cen["y"], 9).alias("cy"),
    )


def _zigzag_jitter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zigzag (i, amp·(i%2)) i=0..m (amp ≥ 4: every vertex survives eps=1
    # simplification) and a straight line with ±1/16 interior jitter (every
    # interior vertex is dropped) — the two closed-form extremes
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "5 + doc_id % 5 AS m",
        "CAST(4 + doc_id % 5 AS DOUBLE) AS amp",
    ).selectExpr(
        "doc_id",
        "m",
        "amp",
        "transform(sequence(0, m), i -> struct(CAST(i AS DOUBLE) AS x, "
        "amp * CAST(i % 2 AS DOUBLE) AS y)) AS zigzag",
        "transform(sequence(0, m), i -> struct(CAST(i AS DOUBLE) AS x, "
        "CASE WHEN i = 0 OR i = m THEN 0.0d WHEN i % 2 = 1 THEN 0.0625d "
        "ELSE -0.0625d END AS y)) AS jitter",
    )


def _q_simplify_rdp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused simplify+fold pUDF: the previous four F.aggregate interpreted
    # lambdas dominated the query (sandbox-measured ~100× per-element cost)
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.scalar import simplify_stats

    df = ensure_parallelism(_zigzag_jitter(spark, sf_dir), heavy=True)
    szz = simplify_stats(F.col("zigzag"), 1.0, "rdp")
    sjt = simplify_stats(F.col("jitter"), 1.0, "rdp")
    return df.select(
        "doc_id",
        szz["n"].alias("n_zigzag"),
        szz["sum_x"].alias("zz_sum_x"),
        szz["sum_y"].alias("zz_sum_y"),
        sjt["n"].alias("n_jitter"),
        sjt["sum_x"].alias("jt_sum_x"),
    )


def _q_simplify_vw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.scalar import simplify_stats

    df = ensure_parallelism(_zigzag_jitter(spark, sf_dir), heavy=True)
    szz = simplify_stats(F.col("zigzag"), 1.0, "vw")
    sjt = simplify_stats(F.col("jitter"), 1.0, "vw")
    return df.select(
        "doc_id",
        szz["n"].alias("n_zigzag"),
        szz["sum_x"].alias("zz_sum_x"),
        szz["sum_y"].alias("zz_sum_y"),
        sjt["n"].alias("n_jitter"),
        sjt["sum_x"].alias("jt_sum_x"),
    )


_SIMPLIFY_ORACLE = """
    WITH p AS (
      SELECT doc_id, 5 + doc_id % 5 AS m, CAST(4 + doc_id % 5 AS DOUBLE) AS amp
      FROM documents
    )
    SELECT doc_id,
           CAST(m + 1 AS INT) AS n_zigzag,
           CAST(m * (m + 1) / 2 AS DOUBLE) AS zz_sum_x,
           amp * CAST((m + 1) // 2 AS DOUBLE) AS zz_sum_y,
           2 AS n_jitter,
           CAST(m AS DOUBLE) AS jt_sum_x
    FROM p
"""


def _lshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    # four kernel pUDFs (densify/interpolate/locate/substring) run per row
    # on this input — spread it (heavy), unlike the µs-per-row _abc queries
    from geo_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(_abc(spark, sf_dir), heavy=True).selectExpr(
        "doc_id",
        "a",
        "b",
        "array(struct(0.0d AS x, 0.0d AS y), struct(a AS x, 0.0d AS y), "
        "struct(a AS x, b AS y)) AS line",
    )


def _q_line_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # densify / interpolate / locate / substring over an L-shaped polyline
    # (0,0)→(a,0)→(a,b): every output is a closed-form function of (a, b)
    # (line_measures/densify.rs:60, substring.rs:46, line_locate_point.rs:38)
    from geo_spark.operators.scalar import (
        densify,
        interpolate_point,
        locate_point,
        substring_line,
    )

    df = _lshape(spark, sf_dir)
    dn = densify(F.col("line"), 0.75)
    ip = interpolate_point(F.col("line"), 0.25)
    loc = locate_point(
        F.col("line"), F.col("a") + 0.5, F.col("b") / 2.0
    )
    sub = substring_line(F.col("line"), 0.25, 0.75)
    return df.select(
        "doc_id",
        F.size(dn).alias("n_densified"),
        F.round(
            F.aggregate(dn, F.lit(0.0), lambda acc, p: acc + p["x"]), 9
        ).alias("dens_sum_x"),
        F.round(ip["x"], 9).alias("interp_x"),
        F.round(ip["y"], 9).alias("interp_y"),
        F.round(loc, 12).alias("locate_frac"),
        F.size(sub).alias("n_substring"),
        F.round(F.element_at(sub, 1)["x"], 9).alias("sub_x0"),
        F.round(F.element_at(sub, 1)["y"], 9).alias("sub_y0"),
        F.round(F.element_at(sub, -1)["x"], 9).alias("sub_x1"),
        F.round(F.element_at(sub, -1)["y"], 9).alias("sub_y1"),
    )


_LINE_MEASURES_ORACLE = """
    WITH p AS (
      SELECT doc_id, CAST(1 + doc_id % 7 AS DOUBLE) AS a,
             CAST(1 + doc_id % 5 AS DOUBLE) AS b
      FROM documents
    ),
    d AS (
      SELECT doc_id, a, b,
             CAST(CEIL(a / 0.75) AS BIGINT) AS n1,
             CAST(CEIL(b / 0.75) AS BIGINT) AS n2,
             0.25 * (a + b) AS t25, 0.75 * (a + b) AS t75
      FROM p
    )
    SELECT doc_id,
           CAST(1 + n1 + n2 AS INT) AS n_densified,
           ROUND(list_sum(list_transform(range(0, CAST(n1 + 1 AS INT)),
                   k -> a * (CAST(k AS DOUBLE) / n1))) + a * n2, 9) AS dens_sum_x,
           ROUND(CASE WHEN t25 <= a THEN (t25 / a) * a ELSE a END, 9) AS interp_x,
           ROUND(CASE WHEN t25 <= a THEN 0.0 ELSE ((t25 - a) / b) * b END, 9) AS interp_y,
           ROUND((a + 0.5 * b) / (a + b), 12) AS locate_frac,
           CAST(CASE WHEN a / (a + b) > 0.25 AND a / (a + b) < 0.75
                THEN 3 ELSE 2 END AS INT) AS n_substring,
           ROUND(CASE WHEN t25 <= a THEN (t25 / a) * a ELSE a END, 9) AS sub_x0,
           ROUND(CASE WHEN t25 <= a THEN 0.0 ELSE ((t25 - a) / b) * b END, 9) AS sub_y0,
           ROUND(CASE WHEN t75 <= a THEN (t75 / a) * a ELSE a END, 9) AS sub_x1,
           ROUND(CASE WHEN t75 <= a THEN 0.0 ELSE ((t75 - a) / b) * b END, 9) AS sub_y1
    FROM d
"""


def _q_densify_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metric-parameterized densify + segmentize (line_measures/densify.rs:139
    # — per-segment ceil(metric_dist/max) splits at equal-ratio slerp points;
    # linestring_segment.rs:43 haversine segmentize): a 3-vertex lon/lat
    # track per doc is densified so no piece exceeds 300 km haversine and
    # split into 7 equal-haversine-length pieces; coordinate SUMS pin every
    # interpolated vertex, so the whole great-circle interpolation path is
    # value-hash gated against DuckDB's re-derivation of the same slerp.
    from geo_spark.operators.scalar import densify_metric, segmentize_metric

    from geo_spark.operators.dedup import ensure_parallelism

    # metric densify emits ~50 vertices/row through the haversine kernel —
    # real per-row work, so spread the single-file scan
    pts = ensure_parallelism(_derived_points(spark, sf_dir), heavy=True)
    track = pts.select(
        "doc_id",
        F.expr(
            "array(struct(lon AS x, lat / 2 AS y),"
            " struct(lon AS x, lat / 2 + 15.0d AS y),"
            " struct(lon * CAST(0.9 AS DOUBLE) AS x, lat / 2 + 15.0d AS y))"
        ).alias("line"),
    )
    dn = densify_metric(F.col("line"), 300_000.0, "haversine")
    sg = segmentize_metric(F.col("line"), 7, "haversine")

    def _sum(col, field):
        return F.aggregate(col, F.lit(0.0), lambda acc, p: acc + p[field])

    return track.select(
        "doc_id",
        F.size(dn).alias("n_dense"),
        F.round(_sum(dn, "x"), 3).alias("dense_sum_x"),
        F.round(_sum(dn, "y"), 3).alias("dense_sum_y"),
        F.round(_sum(sg, "x"), 3).alias("seg_sum_x"),
        F.round(_sum(sg, "y"), 3).alias("seg_sum_y"),
    )


# DuckDB twin: same slerp (sin((1-f)d)/sin d weights on the unit sphere),
# same ceil(haversine_m/300km) split counts, same equal-cumulative-length
# breakpoint rule — list comprehension over range() per segment.
def _densify_haversine_oracle_sql() -> str:
    R = "6371008.8"

    def hav_d(x1, y1, x2, y2):
        return (
            f"2.0 * ASIN(SQRT(LEAST("
            f"POW(SIN(RADIANS(({y2}) - ({y1})) / 2.0), 2)"
            f" + COS(RADIANS({y1})) * COS(RADIANS({y2}))"
            f" * POW(SIN(RADIANS(({x2}) - ({x1})) / 2.0), 2), 1.0)))"
        )

    # per-segment trig is precomputed in the CTEs; the slerp weights
    # sin((1-f)d)/sin d and sin(fd)/sin d are written inline.
    return f"""
    WITH p AS ({_PTS_CTE}),
    t AS (
      SELECT doc_id,
             lon AS x1, lat / 2 AS y1,
             lon AS x2, lat / 2 + CAST(15.0 AS DOUBLE) AS y2,
             lon * CAST(0.9 AS DOUBLE) AS x3, lat / 2 + CAST(15.0 AS DOUBLE) AS y3
      FROM p
    ),
    seg AS (
      SELECT doc_id, x1, y1, x2, y2, x3, y3,
             {hav_d('x1', 'y1', 'x2', 'y2')} AS d1,
             {hav_d('x2', 'y2', 'x3', 'y3')} AS d2
      FROM t
    ),
    n AS (
      SELECT *, {R} * d1 AS m1, {R} * d2 AS m2,
             GREATEST(CAST(CEIL({R} * d1 / 300000.0) AS BIGINT), 1) AS n1,
             GREATEST(CAST(CEIL({R} * d2 / 300000.0) AS BIGINT), 1) AS n2
      FROM seg
    ),
    pts_dense AS (
      SELECT doc_id, n1, n2,
        -- intermediates of segment 1 (k = 1..n1-1) then segment 2
        list_concat(
          list_transform(range(1, CAST(n1 AS INT)), k -> struct_pack(
            ax := SIN((1.0 - CAST(k AS DOUBLE) / n1) * d1) / SIN(d1) * COS(RADIANS(y1)) * COS(RADIANS(x1))
                + SIN((CAST(k AS DOUBLE) / n1) * d1) / SIN(d1) * COS(RADIANS(y2)) * COS(RADIANS(x2)),
            ay := SIN((1.0 - CAST(k AS DOUBLE) / n1) * d1) / SIN(d1) * COS(RADIANS(y1)) * SIN(RADIANS(x1))
                + SIN((CAST(k AS DOUBLE) / n1) * d1) / SIN(d1) * COS(RADIANS(y2)) * SIN(RADIANS(x2)),
            az := SIN((1.0 - CAST(k AS DOUBLE) / n1) * d1) / SIN(d1) * SIN(RADIANS(y1))
                + SIN((CAST(k AS DOUBLE) / n1) * d1) / SIN(d1) * SIN(RADIANS(y2)))),
          list_transform(range(1, CAST(n2 AS INT)), k -> struct_pack(
            ax := SIN((1.0 - CAST(k AS DOUBLE) / n2) * d2) / SIN(d2) * COS(RADIANS(y2)) * COS(RADIANS(x2))
                + SIN((CAST(k AS DOUBLE) / n2) * d2) / SIN(d2) * COS(RADIANS(y3)) * COS(RADIANS(x3)),
            ay := SIN((1.0 - CAST(k AS DOUBLE) / n2) * d2) / SIN(d2) * COS(RADIANS(y2)) * SIN(RADIANS(x2))
                + SIN((CAST(k AS DOUBLE) / n2) * d2) / SIN(d2) * COS(RADIANS(y3)) * SIN(RADIANS(x3)),
            az := SIN((1.0 - CAST(k AS DOUBLE) / n2) * d2) / SIN(d2) * SIN(RADIANS(y2))
                + SIN((CAST(k AS DOUBLE) / n2) * d2) / SIN(d2) * SIN(RADIANS(y3))))
        ) AS inter,
        x1, y1, x2, y2, x3, y3, d1, d2, m1, m2
      FROM n
    ),
    dense AS (
      SELECT doc_id, n1, n2, x1, y1, x2, y2, x3, y3, d1, d2, m1, m2,
        CAST(1 + n1 + n2 AS INT) AS n_dense,
        x1 + x2 + x3 + COALESCE(list_sum(list_transform(inter,
            s -> DEGREES(ATAN2(s.ay, s.ax)))), 0.0) AS dense_sum_x,
        y1 + y2 + y3 + COALESCE(list_sum(list_transform(inter,
            s -> DEGREES(ATAN2(s.az, SQRT(s.ax * s.ax + s.ay * s.ay))))), 0.0) AS dense_sum_y
      FROM pts_dense
    ),
    brk AS (
      SELECT doc_id, n_dense, dense_sum_x, dense_sum_y,
        list_transform(range(1, 7), j -> struct_pack(
          sx := CASE WHEN CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) < m1 THEN x1 ELSE x2 END,
          sy := CASE WHEN CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) < m1 THEN y1 ELSE y2 END,
          ex := CASE WHEN CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) < m1 THEN x2 ELSE x3 END,
          ey := CASE WHEN CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) < m1 THEN y2 ELSE y3 END,
          dd := CASE WHEN CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) < m1 THEN d1 ELSE d2 END,
          f  := CASE WHEN CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) < m1
                     THEN (CAST(j AS DOUBLE) * ((m1 + m2) / 7.0)) / m1
                     ELSE (CAST(j AS DOUBLE) * ((m1 + m2) / 7.0) - m1) / m2 END
        )) AS bspec,
        x1, y1, x3, y3
      FROM dense
    ),
    bpts AS (
      SELECT doc_id, n_dense, dense_sum_x, dense_sum_y, x1, y1, x3, y3,
        list_transform(bspec, s -> struct_pack(
          ax := SIN((1.0 - s.f) * s.dd) / SIN(s.dd) * COS(RADIANS(s.sy)) * COS(RADIANS(s.sx))
              + SIN(s.f * s.dd) / SIN(s.dd) * COS(RADIANS(s.ey)) * COS(RADIANS(s.ex)),
          ay := SIN((1.0 - s.f) * s.dd) / SIN(s.dd) * COS(RADIANS(s.sy)) * SIN(RADIANS(s.sx))
              + SIN(s.f * s.dd) / SIN(s.dd) * COS(RADIANS(s.ey)) * SIN(RADIANS(s.ex)),
          az := SIN((1.0 - s.f) * s.dd) / SIN(s.dd) * SIN(RADIANS(s.sy))
              + SIN(s.f * s.dd) / SIN(s.dd) * SIN(RADIANS(s.ey)))) AS bp
      FROM brk
    )
    SELECT doc_id, n_dense,
      ROUND(dense_sum_x, 3) AS dense_sum_x,
      ROUND(dense_sum_y, 3) AS dense_sum_y,
      ROUND(x1 + x3 + list_sum(list_transform(bp,
          s -> DEGREES(ATAN2(s.ay, s.ax)))), 3) AS seg_sum_x,
      ROUND(y1 + y3 + list_sum(list_transform(bp,
          s -> DEGREES(ATAN2(s.az, SQRT(s.ax * s.ax + s.ay * s.ay))))), 3) AS seg_sum_y
    FROM bpts
"""


def _affine_matrices():
    import numpy as np

    from geo_spark.kernels import affine as AF

    M = AF.compose(
        AF.translate(1.5, -2.25),
        AF.compose(
            AF.rotate(30.0, origin=(1.0, 1.0)),
            AF.compose(AF.scale(1.25, 0.75, origin=(0.5, 0.0)), AF.skew(10.0, 5.0)),
        ),
    )
    Minv = np.linalg.inv(np.vstack([M, [0.0, 0.0, 1.0]]))[:2, :]
    return M, Minv


def _q_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # translate∘rotate∘scale∘skew composition (affine_ops.rs:36) applied as
    # pure SQL; the oracle applies the identical 6 literals row-wise, and
    # `rt_ok` checks the inverse matrix recovers the original vertices
    from geo_spark.operators.scalar import affine_transform_sql

    M, Minv = _affine_matrices()
    df = _abc(spark, sf_dir).withColumn("ring", F.expr(_TRAPEZOID))
    fwd = affine_transform_sql(F.col("ring"), M)
    back = affine_transform_sql(fwd, Minv)
    rt_ok = F.aggregate(
        F.zip_with(
            F.col("ring"),
            back,
            lambda p, q: F.greatest(F.abs(p["x"] - q["x"]), F.abs(p["y"] - q["y"])),
        ),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    ) < 1e-9
    return (
        df.withColumn("t", fwd)
        .withColumn("rt_ok", rt_ok)
        .select(
            "doc_id",
            "rt_ok",
            F.posexplode(F.col("t")).alias("vertex_idx", "v"),
        )
        .select(
            "doc_id",
            "vertex_idx",
            F.round(F.col("v.x"), 9).alias("tx"),
            F.round(F.col("v.y"), 9).alias("ty"),
            "rt_ok",
        )
    )


def _affine_oracle_sql() -> str:
    M, _ = _affine_matrices()
    (a_, b_, xo), (d_, e_, yo) = M.tolist()
    return f"""
        WITH p AS (
          SELECT doc_id, CAST(1 + doc_id % 7 AS DOUBLE) AS a,
                 CAST(1 + doc_id % 5 AS DOUBLE) AS b,
                 CAST(2 + doc_id % 5 AS DOUBLE) AS c
          FROM documents
        ),
        v AS (
          SELECT doc_id, vertex_idx,
                 CASE vertex_idx WHEN 0 THEN 0.0 WHEN 1 THEN a WHEN 2 THEN a
                                 WHEN 3 THEN 0.0 ELSE 0.0 END AS x,
                 CASE vertex_idx WHEN 0 THEN 0.0 WHEN 1 THEN 0.0 WHEN 2 THEN b
                                 WHEN 3 THEN c ELSE 0.0 END AS y
          FROM p, (SELECT CAST(UNNEST(range(0, 5)) AS INT) AS vertex_idx)
        )
        SELECT doc_id, vertex_idx,
               ROUND({a_!r} * x + {b_!r} * y + {xo!r}, 9) AS tx,
               ROUND({d_!r} * x + {e_!r} * y + {yo!r}, 9) AS ty,
               TRUE AS rt_ok
        FROM v
    """


def _q_hausdorff_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # discrete Fréchet (frechet_distance.rs:13) of a zigzag vs its integer
    # translate is exactly |t| (every coupling starts at (a0,b0));
    # Hausdorff (hausdorff_distance.rs:14) is brute-forced by the oracle
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.scalar import frechet, hausdorff

    df = ensure_parallelism(_docs(spark, sf_dir), heavy=True).selectExpr(
        "doc_id",
        "5 + doc_id % 5 AS m",
        "CAST(4 + doc_id % 5 AS DOUBLE) AS amp",
        "CAST(3 + doc_id % 4 AS DOUBLE) AS tx",
        "CAST(2 + doc_id % 3 AS DOUBLE) AS ty",
    ).selectExpr(
        "doc_id",
        "transform(sequence(0, m), i -> struct(CAST(i AS DOUBLE) AS x, "
        "amp * CAST(i % 2 AS DOUBLE) AS y)) AS la",
        "transform(sequence(0, m), i -> struct(CAST(i AS DOUBLE) + tx AS x, "
        "amp * CAST(i % 2 AS DOUBLE) + ty AS y)) AS lb",
    )
    return df.select(
        "doc_id",
        F.round(frechet(F.col("la"), F.col("lb")), 9).alias("frechet_d"),
        F.round(hausdorff(F.col("la"), F.col("lb")), 9).alias("hausdorff_d"),
    )


_HAUSDORFF_ORACLE = """
    WITH p AS (
      SELECT doc_id, 5 + doc_id % 5 AS m, CAST(4 + doc_id % 5 AS DOUBLE) AS amp,
             CAST(3 + doc_id % 4 AS DOUBLE) AS tx, CAST(2 + doc_id % 3 AS DOUBLE) AS ty
      FROM documents
    ),
    l AS (
      SELECT doc_id, tx, ty,
             list_transform(range(0, CAST(m + 1 AS INT)),
               i -> struct_pack(x := CAST(i AS DOUBLE),
                                y := amp * CAST(i % 2 AS DOUBLE))) AS la,
             list_transform(range(0, CAST(m + 1 AS INT)),
               i -> struct_pack(x := CAST(i AS DOUBLE) + tx,
                                y := amp * CAST(i % 2 AS DOUBLE) + ty)) AS lb
      FROM p
    )
    SELECT doc_id,
           ROUND(SQRT(tx * tx + ty * ty), 9) AS frechet_d,
           ROUND(GREATEST(
             list_max(list_transform(la, pa -> list_min(list_transform(lb,
               pb -> SQRT((pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y)))))),
             list_max(list_transform(lb, pb -> list_min(list_transform(la,
               pa -> SQRT((pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y))))))
           ), 9) AS hausdorff_d
    FROM l
"""


def _q_geometry_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Euclidean geometry-pair distance (metric_spaces/euclidean.rs) across
    # kind pairs: polygon–polygon, point–polygon, line–line — all gaps are
    # closed-form functions of integer offsets
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.scalar import geometry_distance_cols

    df = ensure_parallelism(_docs(spark, sf_dir), heavy=True).selectExpr(
        "doc_id",
        "doc_id % 3 AS kind_sel",
        "CAST(3 + doc_id % 5 AS DOUBLE) AS dx",
        "CAST(doc_id % 7 - 3 AS DOUBLE) AS dy",
        "CAST(doc_id % 3 AS DOUBLE) + 1.5 AS pxa",
        "CAST(5 + doc_id % 3 AS DOUBLE) AS x0",
        "CAST(1 + doc_id % 2 AS DOUBLE) AS h",
    )
    sq = (
        "array(struct(0.0d AS x, 0.0d AS y), struct(2.0d AS x, 0.0d AS y), "
        "struct(2.0d AS x, 2.0d AS y), struct(0.0d AS x, 2.0d AS y), "
        "struct(0.0d AS x, 0.0d AS y))"
    )
    df = df.selectExpr(
        "doc_id",
        "kind_sel",
        "dx",
        "dy",
        "CASE WHEN kind_sel = 0 THEN 'Polygon' WHEN kind_sel = 1 THEN 'Point' "
        "ELSE 'LineString' END AS kind_a",
        f"CASE WHEN kind_sel = 0 THEN {sq} "
        "WHEN kind_sel = 1 THEN array(struct(-pxa AS x, 0.5d AS y)) "
        "ELSE array(struct(0.0d AS x, 0.0d AS y), struct(4.0d AS x, 0.0d AS y)) END AS ca",
        "CASE WHEN kind_sel = 2 THEN 'LineString' ELSE 'Polygon' END AS kind_b",
        f"CASE WHEN kind_sel = 0 THEN transform({sq}, p -> struct(p.x + dx AS x, p.y + dy AS y)) "
        f"WHEN kind_sel = 1 THEN {sq} "
        "ELSE array(struct(x0 AS x, h AS y), struct(x0 + 4.0d AS x, h AS y)) END AS cb",
    )
    return df.select(
        "doc_id",
        F.col("kind_sel").cast("int").alias("kind_sel"),
        F.round(
            geometry_distance_cols(
                F.col("kind_a"), F.col("ca"), F.col("kind_b"), F.col("cb")
            ),
            9,
        ).alias("dist"),
    )


_GEOM_DIST_ORACLE = """
    WITH p AS (
      SELECT doc_id, doc_id % 3 AS kind_sel,
             CAST(3 + doc_id % 5 AS DOUBLE) AS dx,
             CAST(doc_id % 7 - 3 AS DOUBLE) AS dy,
             CAST(doc_id % 3 AS DOUBLE) + 1.5 AS pxa,
             CAST(5 + doc_id % 3 AS DOUBLE) AS x0,
             CAST(1 + doc_id % 2 AS DOUBLE) AS h
      FROM documents
    )
    SELECT doc_id, CAST(kind_sel AS INT) AS kind_sel,
           ROUND(CASE
             WHEN kind_sel = 0 THEN SQRT((dx - 2) * (dx - 2) +
               (CASE WHEN dy > 2 THEN dy - 2 WHEN dy < -2 THEN -2 - dy ELSE 0 END)
               * (CASE WHEN dy > 2 THEN dy - 2 WHEN dy < -2 THEN -2 - dy ELSE 0 END))
             WHEN kind_sel = 1 THEN pxa
             ELSE SQRT((x0 - 4) * (x0 - 4) + h * h)
           END, 9) AS dist
    FROM p
"""


def _q_triangulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Delaunay (triangulate_delaunay.rs:116) + StitchTriangles (stitch.rs:25)
    # on an n×m integer grid: 2(n−1)(m−1) triangles stitching to one piece of
    # area (n−1)(m−1); earcut (triangulate_earcut) on the trapezoid ring
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geometry2 import delaunay_stitch_stats, triangulate

    df = ensure_parallelism(_abc(spark, sf_dir), heavy=True).selectExpr(
        "doc_id",
        "a",
        "b",
        "c",
        "3 + doc_id % 3 AS gn",
        "3 + doc_id % 2 AS gm",
    )
    df = df.selectExpr(
        "doc_id",
        "a",
        "b",
        "c",
        "flatten(transform(sequence(0, gn - 1), i -> transform(sequence(0, gm - 1), "
        "j -> struct(CAST(i AS DOUBLE) AS x, CAST(j AS DOUBLE) AS y)))) AS grid",
    )
    st = delaunay_stitch_stats(F.col("grid"))
    ear = triangulate(F.expr(_TRAPEZOID))
    return df.select(
        "doc_id",
        st["n_tri"].alias("n_delaunay_tri"),
        st["n_pieces"].alias("n_stitched"),
        F.round(st["area"], 9).alias("stitched_area"),
        F.size(ear).alias("n_earcut_tri"),
    )


_TRIANGULATE_ORACLE = """
    SELECT doc_id,
           CAST(2 * (3 + doc_id % 3 - 1) * (3 + doc_id % 2 - 1) AS INT) AS n_delaunay_tri,
           1 AS n_stitched,
           CAST((3 + doc_id % 3 - 1) * (3 + doc_id % 2 - 1) AS DOUBLE) AS stitched_area,
           2 AS n_earcut_tri
    FROM documents
"""


def _q_unary_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n-way union (bool_ops/mod.rs:259): k overlapping 3×3 squares at x=2i
    # merge into one strip of area 6k+3, plus one disjoint unit square
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geometry2 import unary_union_rings

    df = ensure_parallelism(_docs(spark, sf_dir), heavy=True).selectExpr(
        "doc_id", "2 + doc_id % 4 AS k"
    )
    df = df.selectExpr(
        "doc_id",
        "k",
        "concat(transform(sequence(0, k - 1), i -> array("
        "struct(CAST(2 * i AS DOUBLE) AS x, 0.0d AS y), "
        "struct(CAST(2 * i + 3 AS DOUBLE) AS x, 0.0d AS y), "
        "struct(CAST(2 * i + 3 AS DOUBLE) AS x, 3.0d AS y), "
        "struct(CAST(2 * i AS DOUBLE) AS x, 3.0d AS y), "
        "struct(CAST(2 * i AS DOUBLE) AS x, 0.0d AS y))), "
        "array(array(struct(100.0d AS x, 0.0d AS y), struct(101.0d AS x, 0.0d AS y), "
        "struct(101.0d AS x, 1.0d AS y), struct(100.0d AS x, 1.0d AS y), "
        "struct(100.0d AS x, 0.0d AS y)))) AS rings",
    )
    u = unary_union_rings(F.col("rings"))
    return df.select(
        "doc_id",
        u["n_pieces"].alias("n_pieces"),
        F.round(u["area"], 9).alias("union_area"),
    )


_UNION_ORACLE = """
    SELECT doc_id, 2 AS n_pieces,
           CAST(6 * (2 + doc_id % 4) + 4 AS DOUBLE) AS union_area
    FROM documents
"""


def _q_closest_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ClosestPoint kinds (closest_point.rs): probe off the L-line projects
    # onto the vertical arm ('single'); probe on the line → 'intersection'
    from geo_spark.operators.scalar import closest_point_col

    df = _lshape(spark, sf_dir)
    off = closest_point_col(F.col("line"), F.col("a") + 0.5, F.col("b") / 2.0)
    on = closest_point_col(F.col("line"), F.col("a"), F.col("b") / 2.0)
    return df.select(
        "doc_id",
        off["kind"].alias("kind_off"),
        F.round(off["x"], 9).alias("qx"),
        F.round(off["y"], 9).alias("qy"),
        on["kind"].alias("kind_on"),
    )


_CLOSEST_ORACLE = """
    WITH p AS (
      SELECT doc_id, CAST(1 + doc_id % 7 AS DOUBLE) AS a,
             CAST(1 + doc_id % 5 AS DOUBLE) AS b
      FROM documents
    )
    SELECT doc_id, 'single' AS kind_off,
           ROUND(a, 9) AS qx, ROUND(0.5 * b, 9) AS qy,
           'intersection' AS kind_on
    FROM p
"""


def _q_concave_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concaveman-style concave hull (concave_hull.rs:104): at concavity=∞
    # the dig decision d·concavity < edge_len is never true (inf or nan on
    # the left), so the ring is exactly the convex hull — verified against
    # the extreme-point oracle (same characterization as hull_by_lang)
    from geo_spark.operators.geometry2 import concave_hull_points

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    pts = _derived_points(spark, sf_dir).join(docs, "doc_id")
    lang_id = (
        F.ascii(F.substring("lang", 1, 1)) * 256 + F.ascii(F.substring("lang", 2, 1))
    ).cast("long")
    grouped = pts.groupBy(lang_id.alias("lang_id")).agg(
        F.collect_list(F.struct(F.col("lon").alias("x"), F.col("lat").alias("y"))).alias(
            "pts"
        )
    )
    hull = concave_hull_points(F.col("pts"), concavity=float("inf"))
    verts = grouped.select(
        "lang_id",
        F.explode(
            F.slice(hull, F.lit(1), F.greatest(F.size(hull) - 1, F.lit(0)))
        ).alias("v"),
    )
    return verts.select("lang_id", F.col("v.x").alias("x"), F.col("v.y").alias("y"))


def _q_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WKB encode→decode round-trip over the admin polygons (geometry/wkb.py):
    # byte length, vertex count and coordinate sums are closed-form; `ok`
    # asserts byte-exact coordinate recovery
    from geo_spark.geometry.wkb import polygon_wkb_roundtrip
    from geo_spark.sources.documents import synth_admin_polygons

    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=True)
    rt = polygon_wkb_roundtrip(F.col("exterior"), F.col("interiors"))
    return polys.select(
        "polygon_id",
        rt["n_bytes"].alias("n_bytes"),
        rt["n_vertices"].alias("n_vertices"),
        F.round(rt["sum_x"], 6).alias("sum_x"),
        F.round(rt["sum_y"], 6).alias("sum_y"),
        rt["ok"].alias("ok"),
    )


_WKB_ORACLE = """
    WITH g AS (
      SELECT pid,
             -180.0 + (pid % 36) * 10.0 AS xmin,
             -90.0 + CAST(pid // 36 AS DOUBLE) * 10.0 AS ymin
      FROM (SELECT CAST(UNNEST(range(0, 648)) AS BIGINT) AS pid)
    ),
    h AS (
      SELECT pid, xmin, ymin, xmin + 10.0 AS xmax, ymin + 10.0 AS ymax,
             (pid % 17 = 0) AS has_hole
      FROM g
    )
    SELECT pid AS polygon_id,
           CAST(9 + CASE WHEN has_hole THEN 2 ELSE 1 END * 84 AS INT) AS n_bytes,
           CAST(CASE WHEN has_hole THEN 10 ELSE 5 END AS INT) AS n_vertices,
           ROUND(3 * xmin + 2 * xmax
             + CASE WHEN has_hole THEN 3 * (xmin + 4.0) + 2 * (xmax - 4.0) ELSE 0 END,
             6) AS sum_x,
           ROUND(3 * ymin + 2 * ymax
             + CASE WHEN has_hole THEN 3 * (ymin + 4.0) + 2 * (ymax - 4.0) ELSE 0 END,
             6) AS sum_y,
           TRUE AS ok
    FROM h
"""


def _q_geodesic_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # geodesic inverse∘direct consistency: solve p→q (Karney inverse), then
    # travel (azi1, s12) from p (direct) — must land back on q to 1e-6°.
    # q is the derived point of doc_id+1, so the oracle knows the exact
    # destination coordinates without a geodesic solver.
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geodesic_ops import geodesic_destination

    docs = _docs(spark, sf_dir)
    docs.createOrReplaceTempView("documents")
    pq = spark.sql(
        f"""
        WITH p AS ({_PTS_CTE}),
        q AS (
          SELECT doc_id - 1 AS doc_id, lon AS qlon, lat AS qlat FROM (
            SELECT doc_id,
              CAST(CASE WHEN lon_md % 10000000 = 0 THEN lon_md + 1 ELSE lon_md END AS DOUBLE)
                / CAST(1000000 AS DOUBLE) AS lon,
              CAST(CASE WHEN lat_md % 10000000 = 0 THEN lat_md + 1 ELSE lat_md END AS DOUBLE)
                / CAST(1000000 AS DOUBLE) AS lat
            FROM (SELECT doc_id + 1 AS doc_id,
                    {_LON_MD.replace('doc_id', '(doc_id + 1)')} AS lon_md,
                    {_LAT_MD.replace('doc_id', '(doc_id + 1)')} AS lat_md
                  FROM documents) t
          ) s
        )
        SELECT p.doc_id, p.lon, p.lat, q.qlon, q.qlat
        FROM p JOIN q USING (doc_id)
        """
    )
    pq = ensure_parallelism(pq)
    from geo_spark.operators.geodesic_ops import geodesic_bearing_deg, geodesic_meters

    azi = geodesic_bearing_deg("lon", "lat", "qlon", "qlat")
    s12 = geodesic_meters("lon", "lat", "qlon", "qlat")
    dest = geodesic_destination(F.col("lon"), F.col("lat"), azi, s12)
    return pq.select(
        "doc_id",
        F.round(dest["lon"], 6).alias("rt_lon"),
        F.round(dest["lat"], 6).alias("rt_lat"),
    )


def _geodesic_roundtrip_oracle() -> str:
    lon1 = _LON_MD.replace("doc_id", "(doc_id + 1)")
    lat1 = _LAT_MD.replace("doc_id", "(doc_id + 1)")
    return f"""
        SELECT doc_id,
          ROUND(CAST(CASE WHEN lon_md % 10000000 = 0 THEN lon_md + 1 ELSE lon_md END AS DOUBLE)
            / CAST(1000000 AS DOUBLE), 6) AS rt_lon,
          ROUND(CAST(CASE WHEN lat_md % 10000000 = 0 THEN lat_md + 1 ELSE lat_md END AS DOUBLE)
            / CAST(1000000 AS DOUBLE), 6) AS rt_lat
        FROM (SELECT doc_id, {lon1} AS lon_md, {lat1} AS lat_md FROM documents) t
    """


def _q_buffer_mitre(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mitred-join buffer (LineJoin::Mitre, buffer.rs:14-23): dilating /
    # eroding an axis-aligned square keeps it square, so the areas are the
    # exact closed forms (s+2r)² and (s−2r)²
    from geo_spark.operators.dedup import ensure_parallelism
    from geo_spark.operators.geometry2 import buffer_polygon_stats

    df = ensure_parallelism(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0), heavy=True
    ).selectExpr("doc_id", "CAST(4 + doc_id % 5 AS DOUBLE) AS s")
    df = df.selectExpr(
        "doc_id",
        "s",
        "array(struct(0.0d AS x, 0.0d AS y), struct(s AS x, 0.0d AS y), "
        "struct(s AS x, s AS y), struct(0.0d AS x, s AS y), "
        "struct(0.0d AS x, 0.0d AS y)) AS ring",
    )
    no_holes = F.array().cast("array<array<struct<x:double,y:double>>>")
    dil = buffer_polygon_stats(F.col("ring"), no_holes, 1.0, join="mitre")
    ero = buffer_polygon_stats(F.col("ring"), no_holes, -1.0, join="mitre")
    return df.select(
        "doc_id",
        dil["n_pieces"].alias("n_dilated"),
        F.round(dil["area"], 9).alias("dilated_area"),
        ero["n_pieces"].alias("n_eroded"),
        F.round(ero["area"], 9).alias("eroded_area"),
    )


_BUFFER_MITRE_ORACLE = """
    WITH p AS (SELECT doc_id, CAST(4 + doc_id % 5 AS DOUBLE) AS s
               FROM documents WHERE doc_id % 5 = 0)
    SELECT doc_id,
           1 AS n_dilated, ROUND((s + 2) * (s + 2), 9) AS dilated_area,
           1 AS n_eroded, ROUND((s - 2) * (s - 2), 9) AS eroded_area
    FROM p
"""


def _q_overlay_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heterogeneous overlay results (kernels/overlay_mixed): a 10° cell vs
    # itself shifted east by 5° (area overlap), 10° (edge touch → a LINE
    # piece of length 10) or diagonally by (10°,10°) (corner touch → a
    # POINT piece) — the dimension mix is closed-form per pid
    from geo_spark.operators.boolops import mixed_overlay_stats
    from geo_spark.sources.documents import synth_admin_polygons

    polys = synth_admin_polygons(spark, grid_deg=10.0, with_holes=False).filter(
        (F.col("polygon_id") % 5 == 0) & (F.col("polygon_id") < 600)
    )
    pid = F.col("polygon_id")
    dx = (
        F.when(pid % 3 == 0, F.lit(5.0))
        .when(pid % 3 == 1, F.lit(10.0))
        .otherwise(F.lit(10.0))
    )
    dy = F.when(pid % 3 == 2, F.lit(10.0)).otherwise(F.lit(0.0))
    ext_b = F.transform(
        F.col("exterior"),
        lambda p: F.struct((p["x"] + dx).alias("x"), (p["y"] + dy).alias("y")),
    )
    no_holes = F.array().cast("array<array<struct<x:double,y:double>>>")
    st = mixed_overlay_stats(F.col("exterior"), no_holes, ext_b, no_holes, "intersection")
    return polys.select(
        "polygon_id",
        st["n_polys"].alias("n_polys"),
        F.round(st["poly_area"], 9).alias("poly_area"),
        F.round(st["seg_len"], 9).alias("seg_len"),
        st["n_points"].alias("n_points"),
    )


_OVERLAY_TOUCH_ORACLE = """
    SELECT CAST(pid AS BIGINT) AS polygon_id,
           CAST(CASE WHEN pid % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_polys,
           CAST(CASE WHEN pid % 3 = 0 THEN 50.0 ELSE 0.0 END AS DOUBLE) AS poly_area,
           CAST(CASE WHEN pid % 3 = 1 THEN 10.0 ELSE 0.0 END AS DOUBLE) AS seg_len,
           CAST(CASE WHEN pid % 3 = 2 THEN 1 ELSE 0 END AS INT) AS n_points
    FROM range(0, 648) t(pid) WHERE pid % 5 = 0 AND pid < 600
"""


def _q_lof_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Local Outlier Factor (outlier_detection.rs:26) over the hotspot points;
    # k=5 neighborhoods are ≪ the 2° halo, so the cell-partitioned score is
    # exact and DuckDB can brute-force the identical k-dist/lrd/LOF pipeline
    from geo_spark.operators.cluster import lof

    pts = _derived_points(spark, sf_dir).filter(F.col("doc_id") % 4 == 0)
    out = lof(pts.withColumnRenamed("doc_id", "id"), k=5, epsilon_halo=2.0)
    return out.select("id", F.round("lof", 6).alias("lof_r"))


_LOF_ORACLE = f"""
    WITH pts0 AS ({_PTS_CTE}),
    pts AS (SELECT * FROM pts0 WHERE doc_id % 4 = 0),
    d AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib,
             SQRT((a.lon - b.lon) * (a.lon - b.lon)
                  + (a.lat - b.lat) * (a.lat - b.lat)) AS dist
      FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
    ),
    knn AS (
      SELECT ia, ib, dist,
             ROW_NUMBER() OVER (PARTITION BY ia ORDER BY dist, ib) AS rk
      FROM d
    ),
    k5 AS (SELECT * FROM knn WHERE rk <= 5),
    kd AS (SELECT ia, MAX(dist) AS k_dist FROM k5 GROUP BY ia),
    reach AS (
      SELECT k5.ia, k5.ib, GREATEST(kdn.k_dist, k5.dist) AS rd
      FROM k5 JOIN kd kdn ON kdn.ia = k5.ib
    ),
    lrd AS (SELECT ia, 1.0 / AVG(rd) AS lrd FROM reach GROUP BY ia)
    SELECT a.ia AS id, ROUND(AVG(ln.lrd) / MAX(la.lrd), 6) AS lof_r
    FROM k5 a JOIN lrd ln ON ln.ia = a.ib JOIN lrd la ON la.ia = a.ia
    GROUP BY a.ia
"""


def _q_dbscan_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DBSCAN (dbscan.rs:113) cluster summary over CORE points: a core
    # point's cluster is its ε-graph component, so (min core id, core count)
    # per cluster is engine-independent — DuckDB verifies via a recursive
    # min-label propagation over the core-core ε-edges
    from geo_spark.operators.cluster import dbscan

    pts = _derived_points(spark, sf_dir).withColumnRenamed("doc_id", "id")
    clustered = dbscan(pts, epsilon=0.15, min_samples=5, id_col="id", include_core=True)
    return (
        clustered.filter(F.col("is_core"))
        .groupBy("cluster")
        .agg(F.min("id").alias("cluster_key"), F.count("*").alias("n_core"))
        .select("cluster_key", "n_core")
    )


_DBSCAN_ORACLE = f"""
    WITH RECURSIVE pts0 AS ({_PTS_CTE}),
    nb AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM pts0 a JOIN pts0 b
        ON (a.lon - b.lon) * (a.lon - b.lon)
           + (a.lat - b.lat) * (a.lat - b.lat) <= 0.0225
    ),
    core AS (SELECT ia AS id FROM nb GROUP BY ia HAVING COUNT(*) >= 5),
    ce AS (
      SELECT nb.ia, nb.ib FROM nb
      JOIN core c1 ON c1.id = nb.ia JOIN core c2 ON c2.id = nb.ib
    ),
    lp(id, lbl) AS (
      SELECT id, id FROM core
      UNION
      SELECT ce.ib, lp.lbl FROM lp JOIN ce ON ce.ia = lp.id WHERE lp.lbl < ce.ib
    ),
    comp AS (SELECT id, MIN(lbl) AS comp FROM lp GROUP BY id)
    SELECT comp AS cluster_key, COUNT(*) AS n_core
    FROM comp GROUP BY comp
"""


def _q_voronoi_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Voronoi (voronoi.rs:216 — Delaunay dual) verified geometrically: a
    # probe grid inside the hotspot is PIP-joined against the cell polygons;
    # by definition the containing cell's site is the probe's nearest site,
    # which DuckDB computes by brute-force argmin
    from geo_spark.operators.geometry2 import voronoi_distributed
    from geo_spark.operators.pip_join import pip_join_points_polygons

    sites = _derived_points(spark, sf_dir).filter(F.col("doc_id") % 4 == 0)
    # distributed construction (tile+halo certificates) — no global
    # single-task stage; geometric correctness still PIP-gated below.
    # pip_join fetches the polygon side once (toArrow) and then joins
    # against its own local cover, so the cells are not kept
    cells = voronoi_distributed(sites, id_col="doc_id")
    polys = cells.select(
        F.col("doc_id").alias("polygon_id"),
        F.col("cell_ring").alias("exterior"),
        F.array().cast("array<array<struct<x:double,y:double>>>").alias("interiors"),
    )
    xs = F.transform(F.col("exterior"), lambda p: p["x"])
    ys = F.transform(F.col("exterior"), lambda p: p["y"])
    polys = (
        polys.withColumn("xmin", F.array_min(xs))
        .withColumn("ymin", F.array_min(ys))
        .withColumn("xmax", F.array_max(xs))
        .withColumn("ymax", F.array_max(ys))
    )
    probes = spark.sql(
        """
        SELECT CAST(i * 25 + j AS BIGINT) AS probe_id,
               10.125 + CAST(i AS DOUBLE) / 32.0 AS lon,
               50.125 + CAST(j AS DOUBLE) / 32.0 AS lat
        FROM (SELECT explode(sequence(0, 24)) AS i),
             (SELECT explode(sequence(0, 24)) AS j)
        """
    )
    joined = pip_join_points_polygons(probes, polys, predicate="contains")
    return joined.select("probe_id", F.col("polygon_id").alias("site_id"))


_VORONOI_ORACLE = f"""
    WITH pts0 AS ({_PTS_CTE}),
    sites AS (SELECT doc_id, lon, lat FROM pts0 WHERE doc_id % 4 = 0),
    probes AS (
      SELECT CAST(i * 25 + j AS BIGINT) AS probe_id,
             10.125 + CAST(i AS DOUBLE) / 32.0 AS plon,
             50.125 + CAST(j AS DOUBLE) / 32.0 AS plat
      FROM range(0, 25) t1(i), range(0, 25) t2(j)
    ),
    ranked AS (
      SELECT p.probe_id, s.doc_id AS site_id,
             ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
               (p.plon - s.lon) * (p.plon - s.lon)
               + (p.plat - s.lat) * (p.plat - s.lat), s.doc_id) AS rk
      FROM probes p, sites s
    )
    SELECT probe_id, site_id FROM ranked WHERE rk = 1
"""


def _q_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH ANN with the deterministic sin-plane sketch: DuckDB reproduces the
    # 12-bit buckets, the Hamming-1 multiprobe and the exact-cosine rescore,
    # so the whole approximate path is value-hash gated
    from geo_spark.operators.ann import lsh_topk, sin_planes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = lsh_topk(emb, queries_df, k=10, dim=64, n_bits=12, planes=sin_planes(64, 12))
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cos_r"), "rank")


def _lsh_cosine_oracle_sql() -> str:
    bucket = (
        "("
        + " + ".join(
            f"CASE WHEN d[{k + 1}] > 0 THEN {1 << k} ELSE 0 END" for k in range(12)
        )
        + ")"
    )
    return f"""
        WITH base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        dots AS (
          SELECT vec_id, v,
                 list_transform(range(0, 12), p -> list_reduce(
                   list_transform(range(1, 65),
                     i -> SIN(CAST(p * 64 + i AS DOUBLE)) * v[i]),
                   (x, y) -> x + y)) AS d
          FROM base
        ),
        sk AS (SELECT vec_id, v, {bucket} AS bucket FROM dots),
        q AS (
          SELECT vec_id AS qid, v AS qv, bucket AS b0 FROM sk WHERE vec_id % 100 = 0
        ),
        probes AS (
          SELECT qid, qv, xor(b0, CAST(pb AS BIGINT)) AS bucket
          FROM q, (SELECT UNNEST([0,1,2,4,8,16,32,64,128,256,512,1024,2048]) AS pb)
        ),
        cand AS (
          SELECT DISTINCT p.qid, p.qv, c.vec_id, c.v
          FROM probes p JOIN sk c ON c.bucket = p.bucket
        ),
        scored AS (
          SELECT qid, vec_id, list_cosine_similarity(qv, v) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS rank
          FROM cand
        )
        SELECT qid, vec_id, ROUND(cosine, 6) AS cos_r, CAST(rank AS INT) AS rank
        FROM scored WHERE rank <= 10
    """


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup-in-stream (dropDuplicatesWithinWatermark, watermark-bounded
    # state): the surviving first-seen hash set equals the batch DISTINCT —
    # DuckDB verifies it exactly
    from geo_spark.streaming.dedup import run_streaming_dedup_available_now

    return run_streaming_dedup_available_now(spark, f"{sf_dir}/documents.parquet")


def _q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structured Streaming with applyInPandasWithState: the stateful
    # sessionizer over the events stream (availableNow) is value-identical
    # to the batch window-SQL sessionization, so the same oracle gates a
    # custom stateful streaming operator end-to-end
    from geo_spark.streaming.sessions import run_sessionize_available_now

    return run_sessionize_available_now(spark, f"{sf_dir}/events.parquet")


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-quantizer ANN (operators/ann.ivf_topk — the faiss
    # IndexIVF shape; the brief's "IVF or LSH" scale path, next to the
    # existing LSH variant). Deterministic cluster construction makes the
    # IVF answer EXACTLY the brute-force top-k, so DuckDB can hash-gate an
    # approximate index: vector v for doc_id has a unit spike at position
    # 8·(doc_id%8)+1 plus 0.05·SIN noise — cell assignment provably equals
    # doc_id%8 (spike dot ≥ 0.95 vs ≤ 0.05 for any other centroid) and
    # in-cluster cosines (≥ ~0.8) dominate cross-cluster ones (≤ ~0.3),
    # so every true top-5 lives in the probed cell.
    import numpy as np

    from geo_spark.operators.ann import ivf_topk
    from geo_spark.operators.dedup import ensure_parallelism

    dim, K = 64, 8
    cents = np.zeros((K, dim))
    for j in range(K):
        cents[j, 8 * j] = 1.0
    docs = ensure_parallelism(_docs(spark, sf_dir), heavy=True)
    vec = F.expr(
        "transform(sequence(1, 64), i -> "
        "CAST(CASE WHEN i = 8 * CAST(doc_id % 8 AS INT) + 1 THEN 1.0 ELSE 0.0 END "
        "+ 0.05 * SIN(CAST(doc_id * 64 + i AS DOUBLE)) AS DOUBLE))"
    )
    corpus = docs.select(F.col("doc_id").alias("vec_id"), vec.alias("embedding"))
    queries = corpus.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ivf_topk(corpus, queries, cents, k=5, nprobe=1)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cos_r"), "rank")


_IVF_ORACLE = """
    WITH base AS (
      SELECT doc_id AS vec_id,
             list_transform(range(1, 65), i ->
               CASE WHEN i = 8 * (doc_id % 8) + 1 THEN 1.0 ELSE 0.0 END
               + 0.05 * SIN(CAST(doc_id * 64 + i AS DOUBLE))) AS v
      FROM documents
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.qid, b.vec_id,
             list_reduce(list_transform(range(1, 65), i -> qv[i] * v[i]),
                         (x, y) -> x + y)
             / (SQRT(list_reduce(list_transform(range(1, 65), i -> qv[i] * qv[i]),
                                 (x, y) -> x + y))
                * SQRT(list_reduce(list_transform(range(1, 65), i -> v[i] * v[i]),
                                   (x, y) -> x + y))) AS cosine
      FROM q, base b
    ),
    ranked AS (
      SELECT qid, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id)
               AS rank
      FROM scored
    )
    SELECT qid, vec_id, ROUND(cosine, 6) AS cos_r, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
"""


def _q_polygonize_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TABLE-scale polygonize (operators/polygonize_dist.py — dangle peel →
    # per-vertex successors → pointer-doubling cycle labels → per-face
    # walk → hole assignment), the distributed twin of the per-row
    # polygonize_grid kernel query: a 24×18 global mosaic + dangles + an
    # island component sharded across partitions assembles into 24·18 unit
    # faces, the island shell, and the island's host shell with one hole.
    # Each face is identified by its bbox min corner — fully hash-oracled.
    from geo_spark.operators.polygonize_dist import polygonize_distributed

    C, R = 24, 18
    verts = spark.sql(
        f"""
        SELECT CAST(i AS DOUBLE) x1, CAST(j AS DOUBLE) y1,
               CAST(i AS DOUBLE) x2, CAST(j + 1 AS DOUBLE) y2
        FROM (SELECT explode(sequence(0, {C})) AS i),
             (SELECT explode(sequence(0, {R - 1})) AS j)
        """
    )
    horiz = spark.sql(
        f"""
        SELECT CAST(i AS DOUBLE) x1, CAST(j AS DOUBLE) y1,
               CAST(i + 1 AS DOUBLE) x2, CAST(j AS DOUBLE) y2
        FROM (SELECT explode(sequence(0, {C - 1})) AS i),
             (SELECT explode(sequence(0, {R})) AS j)
        """
    )
    x0 = C + 10
    extra = spark.createDataFrame(
        [
            # dangling chain
            (float(C + 2), 0.0, float(C + 3), 1.0),
            (float(C + 3), 1.0, float(C + 4), 1.0),
            # island host square [x0, x0+6]²
            (float(x0), 0.0, float(x0 + 6), 0.0),
            (float(x0 + 6), 0.0, float(x0 + 6), 6.0),
            (float(x0 + 6), 6.0, float(x0), 6.0),
            (float(x0), 6.0, float(x0), 0.0),
            # island [x0+2, x0+4]²+2
            (float(x0 + 2), 2.0, float(x0 + 4), 2.0),
            (float(x0 + 4), 2.0, float(x0 + 4), 4.0),
            (float(x0 + 4), 4.0, float(x0 + 2), 4.0),
            (float(x0 + 2), 4.0, float(x0 + 2), 2.0),
        ],
        "x1 double, y1 double, x2 double, y2 double",
    )
    segs = verts.unionAll(horiz).unionAll(extra)
    # longest boundary cycle here is the mosaic outer contour (2·(C+R)=84
    # half-edges): the 256 hint halves the pointer-doubling rounds, and an
    # undershot hint fails loudly in the face walk rather than mislabeling.
    # parallelism=4: ~2.4k segments across ~20 sequential micro-stages —
    # wide fan-out only adds per-task overhead at this input size
    faces = polygonize_distributed(segs, max_ring_len=256, parallelism=4)
    xs = F.transform("exterior", lambda p: p["x"])
    ys = F.transform("exterior", lambda p: p["y"])
    return faces.select(
        F.array_min(xs).cast("int").alias("xmin"),
        F.array_min(ys).cast("int").alias("ymin"),
        F.round("area", 9).alias("area"),
        F.size("interiors").alias("n_holes"),
    )


def _polygonize_dist_oracle() -> str:
    c, r = 24, 18
    x0 = c + 10
    return f"""
        SELECT CAST(i AS INT) AS xmin, CAST(j AS INT) AS ymin,
               CAST(1.0 AS DOUBLE) AS area, 0 AS n_holes
        FROM range(0, {c}) t1(i), range(0, {r}) t2(j)
        UNION ALL
        SELECT {x0}, 0, CAST(36.0 AS DOUBLE), 1
        UNION ALL
        SELECT {x0 + 2}, 2, CAST(4.0 AS DOUBLE), 0
    """


def _q_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # baseline-JPEG codec end-to-end (kernels/jpeg.py — the multimodal
    # seam's second REAL codec): per doc a 16×16 grayscale image of four
    # constant 8×8 blocks (values 128 + 2·((doc_id+b) % 50)) is encoded at
    # quality 50 and decoded back. Constant blocks have only a DC
    # coefficient = 8·(v−128), an exact multiple of the Annex-K DC quant
    # step (16), so the lossy round-trip is EXACT and DuckDB recomputes the
    # decoded mean in closed form — a hash-gated oracle over a real JPEG
    # encode→Huffman→decode path. Media bytes never leave the executor.
    from geo_spark.operators.dedup import ensure_parallelism

    docs = ensure_parallelism(_docs(spark, sf_dir), heavy=True).select("doc_id")

    def run(batches):
        import numpy as np
        import pandas as pd

        from geo_spark.kernels.jpeg import decode_jpeg, encode_jpeg

        for pdf in batches:
            ids, ws, hs, means = [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                img = np.zeros((16, 16), dtype=np.uint8)
                for b in range(4):
                    v = 128 + 2 * ((d + b) % 50)
                    by, bx = divmod(b, 2)
                    img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = v
                dec = decode_jpeg(encode_jpeg(img, quality=50))
                ids.append(d)
                ws.append(dec.shape[1])
                hs.append(dec.shape[0])
                means.append(float(dec.mean()))
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs, "mean_px": means}
            )

    out = docs.mapInPandas(run, "doc_id long, width int, height int, mean_px double")
    return out.select(
        "doc_id", "width", "height", F.round("mean_px", 6).alias("mean_px")
    )


_JPEG_ORACLE = """
    SELECT doc_id,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           ROUND((512 + 2.0 * (doc_id % 50 + (doc_id + 1) % 50
                               + (doc_id + 2) % 50 + (doc_id + 3) % 50)) / 4.0,
                 6) AS mean_px
    FROM documents
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_contains_grid10": _q_pip_grid,
        "pip_contains_holes": _q_pip_holes,
        "haversine_to_nyc": _q_haversine,
        "knn_planar_k5": _q_knn,
        "tile_counts_r4": _q_tiles,
        "bbox_by_tile_r2": _q_bbox_by_tile,
        "dedup_exact": _q_dedup_exact,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality,
        "language_id": _q_langid,
        "cosine_topk": _q_cosine_topk,
        "agg_lineitem": _q_agg_lineitem,
        "top_customers_window": _q_top_customers,
        "join_enrich": _q_join_enrich,
        "events_agg": _q_events_agg,
        "tile_rollup_r4_to_r2": _q_tile_rollup,
        "within_distance_pairs": _q_within_distance,
        "bearing_to_nyc": _q_bearing,
        "rhumb_to_nyc": _q_rhumb,
        "destination_100km": _q_destination,
        "events_running_window": _q_events_running,
        "events_sessionize": _q_sessionize,
        "ngram_jaccard_consecutive": _q_ngram_jaccard,
        "hull_by_lang": _q_hull_by_lang,
        "doc_fingerprints": _q_fingerprints,
        "buffered_admin": _q_buffered_admin,
        "polygon_validation": _q_polygon_validation,
        "make_valid_grid": _q_make_valid,
        "simhash_near_pairs": _q_simhash_pairs,
        "relate_grid_neighbors": _q_relate_grid,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "embed_near_pairs": _q_embed_near_pairs,
        # round-3 closed-form-oracle coverage of the remaining §2 families
        "centroid_grid": _q_centroid,
        "simplify_rdp_line": _q_simplify_rdp,
        "simplify_vw_line": _q_simplify_vw,
        "line_measures_ops": _q_line_measures,
        "densify_haversine_track": _q_densify_haversine,
        "affine_roundtrip": _q_affine,
        "hausdorff_frechet_pairs": _q_hausdorff_frechet,
        "geometry_distance_pairs": _q_geometry_distance,
        "triangulate_grid": _q_triangulate,
        "unary_union_squares": _q_unary_union,
        "closest_point_line": _q_closest_point,
        "concave_hull_lang": _q_concave_hull,
        "wkb_roundtrip": _q_wkb_roundtrip,
        "buffer_mitre_square": _q_buffer_mitre,
        "overlay_touch_dims": _q_overlay_touch,
        "lof_hotspot": _q_lof_hotspot,
        "dbscan_hotspot": _q_dbscan_hotspot,
        "dedup_tiered_lineage": _q_dedup_tiered,
        "gc_centroid_mixed": _q_gc_centroid,
        "transform_proj": _q_transform_proj,
        "knn_haversine_k3": _q_knn_haversine,
        "spade_triangulation_counts": _q_spade_triangulation,
        "polygonize_grid": _q_polygonize,
        "streaming_interval_enrich": _q_streaming_enrich,
        "voronoi_probe_assign": _q_voronoi_probes,
        "lsh_cosine_topk": _q_lsh_cosine,
        "geodesic_roundtrip": _q_geodesic_roundtrip,
        "streaming_sessionize": _q_streaming_sessionize,
        "streaming_dedup_distinct": _q_streaming_dedup,
        "jpeg_decode_stats": _q_jpeg_decode_stats,
        "polygonize_faces_distributed": _q_polygonize_distributed,
        "ivf_cosine_topk": _q_ivf_topk,
        # rows-only (no SQL-expressible oracle: ellipsoidal inverse needs a
        # geodesic solver, the raw voronoi rings need polygon arithmetic):
        "voronoi_hotspot": _q_voronoi_hotspot,
        "geodesic_to_nyc": _q_geodesic,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_HOLE_FILTER = """
  NOT (
    pid % 17 = 0
    AND lon >= -180.0 + (pid % 36) * 10.0 + 4.0
    AND lon <= -180.0 + (pid % 36) * 10.0 + 6.0
    AND lat >= -90.0 + CAST(FLOOR(pid / 36.0) AS BIGINT) * 10.0 + 4.0
    AND lat <= -90.0 + CAST(FLOOR(pid / 36.0) AS BIGINT) * 10.0 + 6.0
  )
"""

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

_LANG_MARKERS = {
    "de": ["der", "die", "und", "ist", "das"],
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "los", "que", "de"],
    "fr": ["le", "la", "et", "les", "des"],
    "nl": ["de", "het", "een", "en", "van"],
}


def _lang_hits_sql(lang: str) -> str:
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    return " + ".join(
        f"CAST(list_contains({toks}, '{w}') AS INT)" for w in _LANG_MARKERS[lang]
    )


def oracle_sql() -> dict[str, str]:
    pts = f"WITH pts AS ({_PTS_CTE})"
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN h_{lang} >= GREATEST(h_de, h_en, h_es, h_fr, h_nl) THEN '{lang}'"
            for lang in ["nl", "fr", "es", "en", "de"]
        )
        + " END"
    )
    return {
        "pip_contains_grid10": f"""
            {pts}
            SELECT pid AS polygon_id, COUNT(*) AS n
            FROM (SELECT {_GRID_PID} AS pid, lon, lat FROM pts) g
            GROUP BY pid
        """,
        "pip_contains_holes": f"""
            {pts}
            SELECT pid AS polygon_id, COUNT(*) AS n
            FROM (SELECT {_GRID_PID} AS pid, lon, lat FROM pts) g
            WHERE {_HOLE_FILTER}
            GROUP BY pid
        """,
        "haversine_to_nyc": f"""
            {pts}
            SELECT doc_id,
              ROUND(2.0 * 6371008.8 * ASIN(SQRT(LEAST(
                POW(SIN(RADIANS(40.7128 - lat) / 2), 2)
                + COS(RADIANS(lat)) * COS(RADIANS(40.7128))
                  * POW(SIN(RADIANS(-74.006 - lon) / 2), 2), 1.0))), 0) AS dist_m
            FROM pts
        """,
        "knn_planar_k5": f"""
            {pts},
            q AS (SELECT * FROM pts WHERE doc_id % 50 = 0),
            cand AS (
              SELECT q.doc_id AS qid, t.doc_id AS tid,
                     (q.lon - t.lon) * (q.lon - t.lon)
                     + (q.lat - t.lat) * (q.lat - t.lat) AS dist_sq
              FROM q, pts t WHERE t.doc_id <> q.doc_id
            ),
            ranked AS (
              SELECT qid, tid, dist_sq,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_sq, tid) AS rank
              FROM cand
            )
            SELECT qid, tid, dist_sq, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
        """,
        "tile_counts_r4": f"""
            {pts}
            SELECT CAST(FLOOR((lon + 180.0) / 360.0 * 16) AS BIGINT) AS ix,
                   CAST(FLOOR((lat + 90.0) / 180.0 * 16) AS BIGINT) AS iy,
                   COUNT(*) AS n
            FROM pts GROUP BY 1, 2
        """,
        "bbox_by_tile_r2": f"""
            {pts}
            SELECT CAST(FLOOR((lon + 180.0) / 360.0 * 4) AS BIGINT) AS ix,
                   CAST(FLOOR((lat + 90.0) / 180.0 * 4) AS BIGINT) AS iy,
                   COUNT(*) AS n,
                   MIN(lon) AS xmin, MIN(lat) AS ymin,
                   MAX(lon) AS xmax, MAX(lat) AS ymax
            FROM pts GROUP BY 1, 2
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(LENGTH(text) AS INT) AS n_chars,
                   CAST(LEN({_TOKS}) AS INT) AS n_tokens,
                   CAST(LEN(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS INT)
                     AS n_bpe_tokens,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS INT) AS n_spaces,
                   CASE WHEN LEN({_TOKS}) > 0 THEN
                     CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / LEN({_TOKS})
                   ELSE 0.0 END AS avg_token_len
            FROM documents
        """,
        "quality_score": f"""
            SELECT doc_id,
                   CAST(LEN({_TOKS}) AS INT) AS n_tokens,
                   CAST(LEN(string_split(text, '.')) - 1 AS INT) AS n_periods,
                   ({_lang_hits_sql('en')}) AS stop_hits,
                   ((CASE WHEN LEN({_TOKS}) >= 10 AND LEN({_TOKS}) <= 10000
                          THEN 1.0 ELSE 0.3 END)
                    + (CASE WHEN LEN(string_split(text, '.')) - 1 > 0 THEN 1.0 ELSE 0.5 END)
                    + (CASE WHEN ({_lang_hits_sql('en')}) > 0 THEN 1.0 ELSE 0.5 END)
                   ) / 3.0 AS quality
            FROM documents
        """,
        "language_id": f"""
            SELECT doc_id, {lang_case} AS pred_lang,
                   CAST(GREATEST(h_de, h_en, h_es, h_fr, h_nl) AS INT) AS marker_hits
            FROM (
              SELECT doc_id,
                     {_lang_hits_sql('de')} AS h_de,
                     {_lang_hits_sql('en')} AS h_en,
                     {_lang_hits_sql('es')} AS h_es,
                     {_lang_hits_sql('fr')} AS h_fr,
                     {_lang_hits_sql('nl')} AS h_nl
              FROM documents
            ) t
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id % 100 = 0
            ),
            cand AS (
              SELECT q.qid, e.vec_id,
                     list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cosine
              FROM q, embeddings e
            ),
            ranked AS (
              SELECT qid, vec_id, ROUND(cosine, 6) AS cos_r,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
              FROM cand
            )
            SELECT qid, vec_id, cos_r, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
        """,
        "agg_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000, 0) AS BIGINT)) AS BIGINT) AS revenue_micros,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "top_customers_window": """
            SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
              SELECT o_custkey, o_orderkey,
                     ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) t WHERE rn <= 3
        """,
        "join_enrich": """
            SELECT n_name, c_mktsegment, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "events_agg": """
            SELECT user_id, event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT) AS value_micros
            FROM events GROUP BY 1, 2
        """,
        "tile_rollup_r4_to_r2": f"""
            {pts}
            SELECT CAST(FLOOR((lon + 180.0) / 360.0 * 4) AS BIGINT) AS ix,
                   CAST(FLOOR((lat + 90.0) / 180.0 * 4) AS BIGINT) AS iy,
                   COUNT(*) AS n
            FROM pts GROUP BY 1, 2
        """,
        "within_distance_pairs": f"""
            {pts}
            SELECT a.doc_id AS lid, b.doc_id AS rid,
                   SQRT((a.lon - b.lon) * (a.lon - b.lon)
                        + (a.lat - b.lat) * (a.lat - b.lat)) AS dist
            FROM pts a, pts b
            WHERE a.doc_id < b.doc_id
              AND SQRT((a.lon - b.lon) * (a.lon - b.lon)
                       + (a.lat - b.lat) * (a.lat - b.lat)) <= 0.5
        """,
        "bearing_to_nyc": f"""
            {pts}
            SELECT doc_id,
              ROUND((DEGREES(ATAN2(
                 COS(RADIANS(40.7128)) * SIN(RADIANS(-74.006 - lon)),
                 COS(RADIANS(lat)) * SIN(RADIANS(40.7128))
                 - SIN(RADIANS(lat)) * COS(RADIANS(40.7128))
                   * COS(RADIANS(-74.006 - lon)))) + 360.0) % 360.0, 6)
              AS bearing_deg
            FROM pts
        """,
        "rhumb_to_nyc": f"""
            {pts}
            SELECT doc_id,
              ROUND(6371008.8 * SQRT(
                POW(RADIANS(40.7128 - lat), 2)
                + POW(CASE
                    WHEN ABS(LN(TAN(RADIANS(40.7128) / 2 + PI() / 4)
                              / TAN(RADIANS(lat) / 2 + PI() / 4))) > 1e-11
                    THEN RADIANS(40.7128 - lat)
                         / LN(TAN(RADIANS(40.7128) / 2 + PI() / 4)
                              / TAN(RADIANS(lat) / 2 + PI() / 4))
                    ELSE COS(RADIANS(lat)) END, 2)
                  * POW(CASE
                      WHEN RADIANS(-74.006 - lon) > PI() THEN RADIANS(-74.006 - lon) - 2 * PI()
                      WHEN RADIANS(-74.006 - lon) < -PI() THEN RADIANS(-74.006 - lon) + 2 * PI()
                      ELSE RADIANS(-74.006 - lon) END, 2)), 0) AS rhumb_m
            FROM pts
        """,
        "destination_100km": f"""
            {pts},
            d AS (
              SELECT doc_id,
                     RADIANS(doc_id % 360.0) AS brad,
                     100000.0 / 6371008.8 AS rad,
                     RADIANS(lat) AS clat,
                     RADIANS(lon) AS clng
              FROM pts
            ),
            d2 AS (
              SELECT doc_id, clng, brad, rad, clat,
                     ASIN(SIN(clat) * COS(rad)
                          + COS(clat) * SIN(rad) * COS(brad)) AS dlat
              FROM d
            )
            SELECT doc_id,
                   ROUND(((DEGREES(ATAN2(SIN(brad) * SIN(rad) * COS(clat),
                                         COS(rad) - SIN(clat) * SIN(dlat)) + clng)
                           + 540.0) % 360.0) - 180.0, 8) AS dest_lon,
                   ROUND(DEGREES(dlat), 8) AS dest_lat
            FROM d2
        """,
        "events_running_window": """
            SELECT event_id, user_id,
                   CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS running_micros,
                   CAST(COALESCE(LAG(CAST(ROUND(value * 1000000, 0) AS BIGINT), 1) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id), 0) AS BIGINT)
                     AS prev_micros
            FROM events
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, value, ts,
                     epoch(ts) - LAG(epoch(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            ),
            s AS (
              SELECT user_id, event_id, value,
                     SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_idx
              FROM g
            )
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   COUNT(*) AS n_events,
                   MIN(event_id) AS first_event,
                   CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT)
                     AS value_micros
            FROM s GROUP BY 1, 2
        """,
        "ngram_jaccard_consecutive": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS grams,
                     len(t) AS ntok
              FROM toks
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS n_inter,
                   CAST(len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams)) AS INT) AS n_union,
                   CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / (len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams))) AS jaccard
            FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
            WHERE a.ntok >= 3 AND b.ntok >= 3
        """,
        # convex hull via the extreme-point characterization: p is a hull
        # vertex iff some q exists with every other r strictly left of p→q
        # (or collinear in front of p) — O(n³) per group, fine at sf0.01
        "hull_by_lang": f"""
            {pts},
            pl AS (
              SELECT CAST(ascii(substring(d.lang, 1, 1)) * 256
                          + ascii(substring(d.lang, 2, 1)) AS BIGINT) AS lang_id,
                     p.lon AS x, p.lat AS y
              FROM pts p JOIN documents d USING (doc_id)
            ),
            cand AS (SELECT DISTINCT lang_id, x, y FROM pl),
            ok AS (
              SELECT a.lang_id, a.x, a.y
              FROM cand a
              JOIN cand b ON b.lang_id = a.lang_id
                         AND NOT (b.x = a.x AND b.y = a.y)
              JOIN cand r ON r.lang_id = a.lang_id
                         AND NOT (r.x = a.x AND r.y = a.y)
                         AND NOT (r.x = b.x AND r.y = b.y)
              GROUP BY a.lang_id, a.x, a.y, b.x, b.y
              HAVING bool_and(
                  (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) > 0
                  OR ((b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) = 0
                      AND (b.x - a.x) * (r.x - a.x) + (b.y - a.y) * (r.y - a.y) > 0)
              )
            )
            SELECT DISTINCT lang_id, x, y FROM ok
        """,
        # token-level winnowing: 3-gram md5_60 hashes, window-4 minima,
        # distinct — mirrors geo_spark.operators.textstats.winnow_fingerprints
        "doc_fingerprints": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN list_transform(
                              range(1, len(t) - 1),
                              i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                          WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                          ELSE [] END AS grams
              FROM toks
            ),
            gh AS (
              SELECT doc_id,
                     list_transform(grams,
                       s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)) AS h
              FROM g
            ),
            m AS (
              SELECT doc_id,
                     CASE WHEN len(h) >= 4 THEN list_transform(
                              range(1, len(h) - 2), i -> list_min(h[i:i+3]))
                          WHEN len(h) > 0 THEN [list_min(h)]
                          ELSE [] END AS mins
              FROM gh
            )
            SELECT doc_id, UNNEST(list_distinct(mins)) AS fp_hash FROM m
        """,
        # square buffered with round joins: 1 piece, analytic area
        # A + P·r + inscribed-32-gon circle (quad_segs=8 → 32 vertices)
        "buffered_admin": """
            SELECT CAST(pid AS BIGINT) AS polygon_id,
                   CAST(1 AS INT) AS n_pieces,
                   ROUND(100.0 + 40.0 * 0.5
                         + 0.5 * 32 * 0.5 * 0.5 * SIN(2 * PI() / 32), 6) AS area_r
            FROM range(0, 648) t(pid) WHERE pid % 37 = 0
        """,
        # expected problem counts for the deterministic invalid variants the
        # Spark query injects (see _q_polygon_validation)
        "polygon_validation": """
            SELECT CAST(pid AS BIGINT) AS polygon_id,
                   CAST(CASE WHEN pid % 13 = 5 THEN 2
                             WHEN pid % 13 = 7 THEN 1
                             WHEN pid % 34 = 0 THEN 1
                             ELSE 0 END AS INT) AS n_problems
            FROM range(0, 648) t(pid)
        """,
        # prepair repair of the mutated grid — closed-form piece counts and
        # areas. Odd-even subtleties when a mutated cell also carries its
        # hole: the hole bites 2 deg² out of the bowtie wedges / truncated
        # triangle but its remnant outside them flips to interior as 2 deg²
        # of islands, so the area stays 50 while the piece count rises
        # (bowtie: 2 wedges + 2 islands; triangle: 1 + 1 island).
        "make_valid_grid": """
            SELECT CAST(pid AS BIGINT) AS polygon_id,
                   CAST(CASE WHEN pid % 13 = 5 AND pid % 17 = 0 THEN 4
                             WHEN pid % 13 = 5 THEN 2
                             WHEN pid % 13 = 7 AND pid % 17 = 0 THEN 2
                             WHEN pid % 13 = 7 THEN 1
                             WHEN pid % 34 = 0 THEN 2
                             ELSE 1 END AS INT) AS n_pieces,
                   ROUND(CASE
                     WHEN pid % 13 = 5 THEN 50.0
                     WHEN pid % 13 = 7 THEN 50.0
                     WHEN pid % 34 = 0 THEN 104.0
                     WHEN pid % 17 = 0 THEN 96.0
                     ELSE 100.0 END, 6) AS area_r
            FROM range(0, 648) t(pid)
        """,
        # simhash re-derived from scratch: md5_60 token hashes → per-bit
        # sign votes → fingerprint; brute-force pairs at Hamming ≤ 6
        "simhash_near_pairs": _simhash_pairs_sql(),
        # DE-9IM for a 10° square vs itself shifted +5°/+10°/+20° east:
        # overlap / edge-touch / disjoint — closed-form matrices
        "relate_grid_neighbors": """
            SELECT CAST(pid AS BIGINT) AS polygon_id,
                   CASE WHEN pid % 3 = 0 THEN '212111212'
                        WHEN pid % 3 = 1 THEN 'FF2F11212'
                        ELSE 'FF2FF1212' END AS matrix,
                   (pid % 3 = 1) AS touches,
                   (pid % 3 = 0) AS overlaps
            FROM range(0, 648) t(pid) WHERE pid % 5 = 0
        """,
        "minhash_lsh_pairs": _minhash_oracle_sql(),
        "embed_near_pairs": _embed_near_oracle_sql(),
        # round-3 closed-form oracles
        "centroid_grid": """
            WITH p AS (
              SELECT doc_id, CAST(1 + doc_id % 7 AS DOUBLE) AS a,
                     CAST(1 + doc_id % 5 AS DOUBLE) AS b,
                     CAST(2 + doc_id % 5 AS DOUBLE) AS c
              FROM documents
            )
            SELECT doc_id,
                   ROUND(a * (2 * b + c) / (3.0 * (b + c)), 9) AS cx,
                   ROUND((b * b + c * (b + c)) / (3.0 * (b + c)), 9) AS cy
            FROM p
        """,
        "simplify_rdp_line": _SIMPLIFY_ORACLE,
        "simplify_vw_line": _SIMPLIFY_ORACLE,
        "line_measures_ops": _LINE_MEASURES_ORACLE,
        "densify_haversine_track": _densify_haversine_oracle_sql(),
        "dedup_tiered_lineage": _dedup_tiered_oracle_sql(),
        "gc_centroid_mixed": _GC_CENTROID_ORACLE,
        "transform_proj": _TRANSFORM_ORACLE,
        "knn_haversine_k3": _KNN_HAVERSINE_ORACLE,
        "spade_triangulation_counts": _SPADE_ORACLE,
        "polygonize_grid": _POLYGONIZE_ORACLE,
        "streaming_interval_enrich": _STREAMING_ENRICH_ORACLE,
        "affine_roundtrip": _affine_oracle_sql(),
        "hausdorff_frechet_pairs": _HAUSDORFF_ORACLE,
        "geometry_distance_pairs": _GEOM_DIST_ORACLE,
        "triangulate_grid": _TRIANGULATE_ORACLE,
        "unary_union_squares": _UNION_ORACLE,
        "closest_point_line": _CLOSEST_ORACLE,
        "concave_hull_lang": f"""
            {pts},
            pl AS (
              SELECT CAST(ascii(substring(d.lang, 1, 1)) * 256
                          + ascii(substring(d.lang, 2, 1)) AS BIGINT) AS lang_id,
                     p.lon AS x, p.lat AS y
              FROM pts p JOIN documents d USING (doc_id)
            ),
            cand AS (SELECT DISTINCT lang_id, x, y FROM pl),
            ok AS (
              SELECT a.lang_id, a.x, a.y
              FROM cand a
              JOIN cand b ON b.lang_id = a.lang_id
                         AND NOT (b.x = a.x AND b.y = a.y)
              JOIN cand r ON r.lang_id = a.lang_id
                         AND NOT (r.x = a.x AND r.y = a.y)
                         AND NOT (r.x = b.x AND r.y = b.y)
              GROUP BY a.lang_id, a.x, a.y, b.x, b.y
              HAVING bool_and(
                  (b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) > 0
                  OR ((b.x - a.x) * (r.y - a.y) - (b.y - a.y) * (r.x - a.x) = 0
                      AND (b.x - a.x) * (r.x - a.x) + (b.y - a.y) * (r.y - a.y) > 0)
              )
            )
            SELECT DISTINCT lang_id, x, y FROM ok
        """,
        "wkb_roundtrip": _WKB_ORACLE,
        "buffer_mitre_square": _BUFFER_MITRE_ORACLE,
        "overlay_touch_dims": _OVERLAY_TOUCH_ORACLE,
        "lof_hotspot": _LOF_ORACLE,
        "dbscan_hotspot": _DBSCAN_ORACLE,
        "voronoi_probe_assign": _VORONOI_ORACLE,
        "lsh_cosine_topk": _lsh_cosine_oracle_sql(),
        "geodesic_roundtrip": _geodesic_roundtrip_oracle(),
        "jpeg_decode_stats": _JPEG_ORACLE,
        "polygonize_faces_distributed": _polygonize_dist_oracle(),
        "ivf_cosine_topk": _IVF_ORACLE,
        "streaming_dedup_distinct": """
            SELECT DISTINCT md5(text) AS text_hash FROM documents
        """,
        "streaming_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, value, ts,
                     epoch(ts) - LAG(epoch(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            ),
            s AS (
              SELECT user_id, event_id, value,
                     SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_idx
              FROM g
            )
            SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                   COUNT(*) AS n_events,
                   MIN(event_id) AS first_event,
                   CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT)) AS BIGINT)
                     AS value_micros
            FROM s GROUP BY 1, 2
        """,
    }
