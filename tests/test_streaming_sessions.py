"""Stateful streaming sessionization: stream==batch parity and cross-batch
state carry (applyInPandasWithState)."""

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F


def _batch_sessions(spark, path):
    from pyspark.sql import Window

    ev = spark.read.parquet(path)
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


def _session_state(spark):
    """The session's table names and active streams: a runner call must
    leave both as it found them (no memory-sink view left registered)."""
    return {t.name for t in spark.catalog.listTables()}, spark.streams.active


def _as_dict(df):
    return {
        (r.user_id, r.session_idx): (r.n_events, r.first_event, r.value_micros)
        for r in df.collect()
    }


def test_stream_equals_batch_single_batch(spark):
    from geo_spark.streaming.sessions import run_sessionize_available_now

    path = "/root/testdata/sf0.001/events.parquet"
    tables, _ = _session_state(spark)
    got = run_sessionize_available_now(spark, path)
    assert _session_state(spark) == (tables, [])
    exp = _batch_sessions(spark, path)
    assert _as_dict(got) == _as_dict(exp)


def test_state_carries_sessions_across_batches(spark, tmp_path):
    # split one user's events into two time-ordered files; with
    # maxFilesPerTrigger=1 the open session's tail must cross the batch
    # boundary through GroupState (events 3+4 are 10 min apart across files)
    from geo_spark.streaming.sessions import run_sessionize_available_now

    rows = [
        # user 1: session A = events 1-2, session B = events 3-6 (crosses files)
        (1, 1, "2024-01-01 00:00:00", 1.5),
        (2, 1, "2024-01-01 00:10:00", 2.5),
        (3, 1, "2024-01-01 02:00:00", 1.0),
        (4, 1, "2024-01-01 02:10:00", 1.0),   # file 2
        (5, 1, "2024-01-01 02:20:00", 1.0),   # file 2
        (6, 1, "2024-01-01 04:00:00", 7.0),   # file 2, new session
        # user 2: one session entirely in file 1
        (7, 2, "2024-01-01 01:00:00", 3.0),
    ]
    df = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    df["ts"] = pd.to_datetime(df["ts"])
    src = str(tmp_path / "events_split")
    os.makedirs(src)
    spark.createDataFrame(df[df.event_id <= 3]).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(df[df.event_id > 3]).coalesce(1).write.parquet(src + "/f2")
    # flatten part files into one dir with ordered names
    os.makedirs(src + "/all")
    for i, sub in enumerate(["f1", "f2"]):
        part = [f for f in os.listdir(f"{src}/{sub}") if f.endswith(".parquet")][0]
        dst = f"{src}/all/part-{i}.parquet"
        shutil.copy(f"{src}/{sub}/{part}", dst)
        # the file stream source orders batches by modification time — pin
        # ascending mtimes so file 1 is batch 1
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))

    got = run_sessionize_available_now(spark, src + "/all", max_files_per_trigger=1)
    d = _as_dict(got)
    assert d[(1, 1)] == (2, 1, 4000000)
    assert d[(1, 2)] == (3, 3, 3000000)   # 3 events spanning the two batches
    assert d[(1, 3)] == (1, 6, 7000000)
    assert d[(2, 1)] == (1, 7, 3000000)
    assert len(d) == 4


def test_streaming_dedup_matches_batch_distinct(spark):
    from pyspark.sql import functions as F

    from geo_spark.streaming.dedup import run_streaming_dedup_available_now

    path = "/root/testdata/sf0.001/documents.parquet"
    tables, _ = _session_state(spark)
    sunk = run_streaming_dedup_available_now(spark, path)
    assert _session_state(spark) == (tables, [])
    got = {r.text_hash for r in sunk.collect()}
    exp = {
        r.h
        for r in spark.read.parquet(path)
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    }
    assert got == exp and len(got) > 0


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    import os
    import shutil

    import pandas as pd

    from geo_spark.streaming.dedup import run_streaming_dedup_available_now

    # same texts in both files, timestamps within the watermark horizon:
    # batch 2's duplicates must be dropped by the stateful seen-set
    rows1 = [("a", "2024-01-01 00:00:00"), ("b", "2024-01-01 00:10:00")]
    rows2 = [("a", "2024-01-01 00:20:00"), ("c", "2024-01-01 00:30:00")]
    src = str(tmp_path / "docs_split")
    os.makedirs(src + "/all")
    for i, rows in enumerate((rows1, rows2)):
        df = pd.DataFrame(rows, columns=["text", "warc_ts"])
        df["warc_ts"] = pd.to_datetime(df["warc_ts"])
        spark.createDataFrame(df).coalesce(1).write.parquet(f"{src}/f{i}")
        part = [f for f in os.listdir(f"{src}/f{i}") if f.endswith(".parquet")][0]
        dst = f"{src}/all/part-{i}.parquet"
        shutil.copy(f"{src}/f{i}/{part}", dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
    got = run_streaming_dedup_available_now(spark, src + "/all", max_files_per_trigger=1)
    assert got.count() == 3  # a, b, c — the second 'a' was stateful-dropped
