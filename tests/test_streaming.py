"""Streaming tier: incremental ingest equals batch rollup; checkpoint
resume processes only new files; watermarked windows aggregate events."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def stream_dirs(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )


def _write_chunk(tokens_df, src_dir, lo, hi):
    (
        tokens_df.filter(
            (F.col("doc_id") >= f"doc{lo:08d}") & (F.col("doc_id") < f"doc{hi:08d}")
        ).write.mode("append").parquet(src_dir)
    )


def test_stream_rollup_matches_batch_and_resumes(spark, tokens_df, stream_dirs):
    from tsc_spark.operators.rollup import explode_points, rollup_points
    from tsc_spark.streaming.rollup_stream import run_rollup_stream

    src, out, ckpt = stream_dirs
    docs = tokens_df.filter(F.col("doc_id").startswith("doc"))

    # chunk 1 arrives, stream drains it
    _write_chunk(docs, src, 0, 24)
    run_rollup_stream(spark, src, out, ckpt, tier=1)
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first > 0

    # chunk 2 arrives; resumed stream must process ONLY the new files
    _write_chunk(docs, src, 24, 48)
    run_rollup_stream(spark, src, out, ckpt, tier=1)

    streamed = spark.read.parquet(out)
    expected = rollup_points(explode_points(docs), 8, 1)
    assert streamed.count() == expected.count()  # no duplicates from resume
    missing = expected.exceptAll(streamed.select(*expected.columns))
    assert missing.count() == 0


def test_windowed_event_counts_watermark_plan(spark, tmp_path):
    """The watermarked windowed agg compiles to a streaming plan with
    bounded state, and its micro-batch results match a batch groupBy."""
    from tsc_spark.streaming.rollup_stream import windowed_event_counts

    ev_dir = str(tmp_path / "events")
    sf_events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sf_events.write.parquet(ev_dir)

    stream = (
        spark.readStream.schema(sf_events.schema).parquet(ev_dir)
    )
    agg = windowed_event_counts(stream)
    assert agg.isStreaming

    out = str(tmp_path / "evout")
    ckpt = str(tmp_path / "evckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only windows sealed by the watermark; verify each
    # emitted window matches the batch computation exactly
    got = spark.read.parquet(out)
    assert got.count() > 0  # watermark sealed at least the older windows
    batch = (
        sf_events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    joined = got.join(
        batch.withColumnRenamed("n_events", "b_n").withColumnRenamed(
            "total_value", "b_v"
        ),
        ["window_start", "event_type"],
        "inner",
    )
    assert joined.count() == got.count()
    bad = joined.filter(
        (F.col("n_events") != F.col("b_n"))
        | (F.abs(F.col("total_value") - F.col("b_v")) > 1e-9)
    )
    assert bad.count() == 0
