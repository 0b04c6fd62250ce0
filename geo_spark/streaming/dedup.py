"""Structured Streaming: exact dedup in-stream with watermark-bounded state.

The streaming arm of the dedup tier (operators/dedup.py): documents arrive
as a stream, each batch drops rows whose ``md5(text)`` was already seen
within the watermark horizon (``dropDuplicatesWithinWatermark`` — state is
bounded by the horizon, so a 100 TB stream doesn't accumulate an unbounded
seen-set; exact global dedup over all time is the batch operator's job).
``run_streaming_dedup_available_now`` drains a table through the package's
one availableNow runner and distinct-ifies the sunk hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_spark.streaming import run_available_now


def streaming_dedup_hashes(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """documents stream → one row per first-seen ``text_hash`` within the
    watermark horizon. Hashing is JVM-side; the dedup state is keyed by the
    16-byte hash only (no text retained in state)."""
    hashed = stream.select(
        F.md5(F.col(text_col)).alias("text_hash"), F.col(ts_col)
    ).withWatermark(ts_col, watermark)
    return hashed.dropDuplicatesWithinWatermark(["text_hash"]).select("text_hash")


def run_streaming_dedup_available_now(
    spark: SparkSession,
    docs_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the streaming dedup over a parquet dir/file with availableNow and
    return the deduped hash set as a batch DataFrame."""

    def build(stream: DataFrame) -> DataFrame:
        if "warc_ts" not in stream.columns:
            # the driver testdata documents table carries no timestamp —
            # derive a deterministic event time from doc_id (arrival order
            # surrogate)
            stream = stream.withColumn(
                "warc_ts",
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=(F.col("doc_id") % 3600).cast("int")),
            )
        return streaming_dedup_hashes(stream)

    sunk = run_available_now(
        spark, docs_path, build, max_files_per_trigger=max_files_per_trigger
    )
    # cross-batch duplicates beyond the watermark horizon are legitimate
    # stream semantics; the driver-query surface distinct-ifies
    return sunk.distinct()
