"""Stream-stream interval join: stream==batch parity over the events table
(one batch and across batches) and the geo tile-region dimension shape."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _batch_enrich(spark, path):
    from geo_spark.streaming.joins import interval_enrich_join

    ev = spark.read.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))
    fact = ev.filter(F.col("event_type") != "signup")
    dim = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("effective_ts"),
        F.col("value").alias("segment_value"),
    )
    return interval_enrich_join(fact, dim, key="user_id", fact_ts="ts")


def test_events_enrich_stream_equals_batch(spark):
    from geo_spark.streaming.joins import run_events_enrich_available_now

    sunk = run_events_enrich_available_now(spark, EVENTS)
    got = (
        sunk.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .orderBy("event_type")
        .collect()
    )
    exp = (
        _batch_enrich(spark, EVENTS)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .orderBy("event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(got) > 0 and sum(r["n"] for r in got) > 0


@pytest.mark.parametrize("first", ["dim", "fact"])
def test_events_enrich_across_batches(spark, tmp_path, first):
    # one user's signup (dimension version) and facts in two files; with
    # maxFilesPerTrigger=1 whichever side arrives first waits in join state
    # for the other batch (all times are inside the 30-day watermark)
    from geo_spark.streaming import run_available_now
    from geo_spark.streaming.joins import events_enrich

    dim = [(1, "2024-01-01 00:00:00", 7, "signup", 10.0)]
    fact = [
        (2, "2024-01-01 01:00:00", 7, "purchase", 2.5),
        (3, "2024-01-09 00:00:00", 7, "purchase", 1.0),  # past the 7-day validity
    ]
    src = tmp_path / "events"
    src.mkdir()
    for i, rows in enumerate((dim, fact) if first == "dim" else (fact, dim)):
        df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
        df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
        dst = str(src / f"part-{i}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), dst)
        # the file stream source orders batches by modification time
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    got = sorted(
        run_available_now(spark, str(src), events_enrich, max_files_per_trigger=1).collect()
    )
    assert got == sorted(_batch_enrich(spark, str(src)).collect())
    assert [r["event_id"] for r in got] == [2]


def test_tile_region_join_batch_shape(spark):
    # the geo instantiation: points enriched with versioned tile->region
    # assignments; version 2 takes over tile (0-ish) after 01:00
    from geo_spark.streaming.joins import streaming_tile_region_join

    pts = spark.createDataFrame(
        [
            (1, "2024-01-01 00:30:00", 1.0, 1.0),
            (2, "2024-01-01 01:30:00", 1.0, 1.0),
            (3, "2024-01-01 00:30:00", 100.0, 40.0),
        ],
        "id long, warc_ts string, lon double, lat double",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    from geo_spark.functions import cell_encode_col

    tiles = {
        r["id"]: r["tile"]
        for r in pts.select(
            "id", cell_encode_col("lon", "lat", 4).alias("tile")
        ).collect()
    }
    dim = spark.createDataFrame(
        [
            (tiles[1], "2024-01-01 00:00:00", "region_a"),
            (tiles[1], "2024-01-01 01:00:00", "region_b"),
            (tiles[3], "2024-01-01 00:00:00", "region_c"),
        ],
        "tile long, effective_ts string, region_id string",
    ).withColumn("effective_ts", F.col("effective_ts").cast("timestamp"))

    out = streaming_tile_region_join(pts, dim, res=4, validity="1 hour").select(
        "id", "dim_region_id"
    )
    got = sorted((r["id"], r["dim_region_id"]) for r in out.collect())
    assert got == [(1, "region_a"), (2, "region_b"), (3, "region_c")]
