"""Structured Streaming runner and tile counts + resumable lineage writer."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from geo_spark.sources.documents import synth_documents
from geo_spark.sources.lineage import completed_units, incremental_write
from geo_spark.streaming import as_stream_dir, run_available_now
from geo_spark.streaming.tiles import streaming_tile_counts


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="geo_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_tile_counts_matches_batch(spark, tmpdir):
    src = os.path.join(tmpdir, "stream_src")
    docs = synth_documents(spark, 2000)
    # two micro-batch files
    docs.filter("doc_id < 1000").write.mode("overwrite").parquet(src)
    docs.filter("doc_id >= 1000").write.mode("append").parquet(src)

    sunk = run_available_now(
        spark,
        src,
        lambda stream: streaming_tile_counts(stream, res=3, window="1 hour"),
        mode="complete",
    )
    got = {(r["window_start"], r["tile"]): r["n"] for r in sunk.collect()}

    # batch equivalent over the same data
    from geo_spark.functions import cell_encode_col
    from geo_spark.operators.extract import extract_points

    batch_docs = spark.read.parquet(src)
    pts = extract_points(batch_docs).join(
        batch_docs.select("url", "warc_ts"), "url"
    )
    exp_rows = (
        pts.withColumn("tile", cell_encode_col("lon", "lat", 3))
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "tile")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "tile", "n")
        .collect()
    )
    exp = {(r["ws"], r["tile"]): r["n"] for r in exp_rows}
    assert got == exp
    assert sum(got.values()) > 0


def test_as_stream_dir_replaces_interrupted_copy(tmp_path):
    # a run killed mid-copy leaves the keyed dir without its table (and maybe
    # a partial temp file); the next call must copy again, not reuse the dir
    table = tmp_path / "t.parquet"
    table.write_bytes(os.urandom(4096))
    d = as_stream_dir(str(table))
    try:
        final = os.path.join(d, "part-0.parquet")
        os.remove(final)
        with open(os.path.join(d, ".part-0.parquet.1.tmp"), "wb") as f:
            f.write(table.read_bytes()[:100])
        assert as_stream_dir(str(table)) == d
        with open(final, "rb") as f:
            assert f.read() == table.read_bytes()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_write_resume(spark, tmpdir):
    out = os.path.join(tmpdir, "out")
    lineage = os.path.join(tmpdir, "_lineage")
    docs = synth_documents(spark, 1000).withColumn(
        "unit", F.concat(F.lit("u"), F.pmod(F.col("doc_id"), F.lit(5)).cast("string"))
    )

    # first run: only 2 units (simulates an interrupted job)
    r1 = incremental_write(docs, "unit", out, lineage, run_id="r1", max_units_per_batch=2)
    assert r1["processed_units"] == 2
    assert completed_units(spark, lineage).count() == 2

    # resume: processes the remaining 3, skips completed
    r2 = incremental_write(docs, "unit", out, lineage, run_id="r2")
    assert r2["processed_units"] == 3

    # third run: nothing to do
    r3 = incremental_write(docs, "unit", out, lineage, run_id="r3")
    assert r3["skipped"]

    # output complete and exactly-once
    got = spark.read.parquet(out)
    assert got.count() == 1000
    assert got.select("doc_id").distinct().count() == 1000
    # counters recorded per unit
    lin = spark.read.parquet(lineage)
    assert lin.count() == 5
    assert {r["unit"] for r in lin.collect()} == {f"u{i}" for i in range(5)}
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == 1000


def test_incremental_write_idempotent_reprocess(spark, tmpdir):
    """Crash between data write and lineage append → unit re-runs without dupes."""
    out = os.path.join(tmpdir, "out")
    lineage = os.path.join(tmpdir, "_lineage")
    docs = synth_documents(spark, 200).withColumn("unit", F.lit("only"))
    incremental_write(docs, "unit", out, lineage, run_id="a")
    # simulate lost lineage (crash before append): delete it and re-run
    shutil.rmtree(lineage)
    incremental_write(docs, "unit", out, lineage, run_id="b")
    got = spark.read.parquet(out)
    assert got.count() == 200  # dynamic overwrite → no duplication
