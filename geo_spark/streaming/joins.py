"""Structured Streaming: stream-stream interval joins.

The remaining streaming shape after tiles/sessionize/dedup: a fact stream
joined to a SLOWLY-CHANGING dimension that itself arrives as a stream
(dimension-version records with an effective timestamp). The join condition
is an equi-key plus an event-time validity range, so Spark can bound both
join-state buffers with the watermarks — the canonical scale-safe
stream-stream enrich (no broadcast refresh, no static-table restart).

Two instantiations:
  - ``interval_enrich_join``: generic (key, ts) fact × (key, effective_ts)
    dimension-version stream, validity-windowed.
  - ``streaming_tile_region_join``: geo shape — tile-keyed points enriched
    with the tile→region dimension stream (region re-assignments flow as
    new versions).

State bound: each side buffers only rows younger than
watermark + validity; inner join emits exactly the batch-equivalent rows
(stream==batch parity is pytest-gated, in one batch and across batches).
``run_events_enrich_available_now`` drains the events table through the
package's one availableNow runner with ``events_enrich`` as its build step;
the join-state stores inherit the session's host-sized shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_spark.streaming import run_available_now


def interval_enrich_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str = "ts",
    dim_ts: str = "effective_ts",
    validity: str = "7 days",
    watermark: str = "30 days",
    dim_prefix: str = "dim_",
) -> DataFrame:
    """Inner join fact rows to every dimension version whose validity window
    ``[dim_ts, dim_ts + validity)`` covers the fact's event time.

    Dimension columns (except the key) come back prefixed with
    ``dim_prefix``. Both inputs may be streaming or batch DataFrames — the
    same plan runs in either mode, which is what the parity test exploits.
    """
    if fact.isStreaming:
        fact = fact.withWatermark(fact_ts, watermark)
    if dim.isStreaming:
        dim = dim.withWatermark(dim_ts, watermark)
    d = dim.select(
        F.col(key),
        *[
            F.col(c).alias(f"{dim_prefix}{c}")
            for c in dim.columns
            if c != key
        ],
    )
    dts = f"{dim_prefix}{dim_ts}"
    cond = (
        (fact[key] == d[key])
        & (fact[fact_ts] >= d[dts])
        & (fact[fact_ts] < d[dts] + F.expr(f"INTERVAL {validity}"))
    )
    return fact.join(d, cond, "inner").drop(d[key])


def streaming_tile_region_join(
    points: DataFrame,
    region_versions: DataFrame,
    res: int = 4,
    validity: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Geo shape: a (lon, lat, ts) point stream tile-encoded and enriched
    with the streaming tile→region dimension (columns
    ``tile, effective_ts, region_id, ...``)."""
    from geo_spark.functions import cell_encode_col

    pts = points.withColumn("tile", cell_encode_col("lon", "lat", res))
    return interval_enrich_join(
        pts,
        region_versions,
        key="tile",
        fact_ts=ts_col,
        dim_ts="effective_ts",
        validity=validity,
        watermark=watermark,
    )


def events_enrich(events: DataFrame, validity: str = "7 days") -> DataFrame:
    """Split ONE events source into the two join sides: 'signup' events are
    the dimension-version stream (a user's segment becomes effective at
    signup time and lasts ``validity``); all other events are the fact
    stream.

    One source feeding both sides (a stream self-join) scans the parquet
    and tracks offsets once; two sources would double the per-batch read.
    Watermarks need TIMESTAMP (LTZ); the events table stores NTZ. Both join
    sides shift identically, so the validity join is timezone-invariant."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    fact = src.filter(F.col("event_type") != "signup")
    dim = src.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("effective_ts"),
        F.col("value").alias("segment_value"),
    )
    return interval_enrich_join(
        fact, dim, key="user_id", fact_ts="ts", dim_ts="effective_ts",
        validity=validity,
    )


def run_events_enrich_available_now(
    spark: SparkSession,
    events_path: str,
    validity: str = "7 days",
) -> DataFrame:
    """Drive ``events_enrich`` over the events table with ``availableNow``
    triggers and return the sunk joined rows (append mode — inner interval
    joins emit exactly the batch-equivalent result)."""
    return run_available_now(
        spark, events_path, lambda stream: events_enrich(stream, validity)
    )
