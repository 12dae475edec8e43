"""Streaming leading-edge debounce (streaming/debounce.py): the burst
chain survives micro-batch boundaries via one last-raw-ts state row
per key; under ascending event-time feeds the per-batch survivor
sinks union to exactly the batch operator's answer."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.sessions import debounce_events
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.debounce import (
    read_kept_events,
    run_stream_debounce,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "ts long, user_id long, event_type string, event_id long"


def _run(spark, tmp_path, min_gap_us=3_600_000_000):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_debounce(
        stream,
        spark,
        work_dir=str(tmp_path / "deb"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_gap_us=min_gap_us,
    )
    return str(tmp_path / "deb")


def test_stream_equals_batch_on_ascending_feed(spark, sf_dir, tmp_path):
    ev = tables.load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    mid = ev.agg(F.expr("percentile(ts, 0.5)")).collect()[0][0]
    os.makedirs(tmp_path / "feed")
    stage_stream_file(
        ev.where(F.col("ts") <= mid), tmp_path / "feed", "b0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        ev.where(F.col("ts") > mid), tmp_path / "feed", "b1.parquet",
        1_700_000_100,
    )
    work = _run(spark, tmp_path)
    streamed = sorted(
        tuple(r) for r in read_kept_events(spark, work).collect()
    )
    batch = sorted(tuple(r) for r in debounce_events(ev).collect())
    assert streamed == batch


def test_burst_spanning_the_boundary_is_suppressed(spark, tmp_path):
    """t=0 (batch 0) then t=50, 130 (batch 1), threshold 100 µs: the
    t=50 event continues batch 0's burst (dropped) and — leading-edge —
    resets the timer, so t=130 (gap 80 from t=50) is dropped too. An
    isolated t=500 survives."""
    os.makedirs(tmp_path / "feed")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(t * 1000, 7, "click", i) for i, t in rows], SCHEMA
    )
    stage_stream_file(
        mk([(0, 0)]), tmp_path / "feed", "b0.parquet", 1_700_000_000
    )
    stage_stream_file(
        mk([(1, 50), (2, 130), (3, 500)]),
        tmp_path / "feed", "b1.parquet", 1_700_000_100,
    )
    work = _run(spark, tmp_path, min_gap_us=100)
    kept = sorted(
        r["ts_us"] for r in read_kept_events(spark, work).collect()
    )
    assert kept == [0, 500]


def test_replay_is_idempotent(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(t * 1000, 7, "click", i) for i, t in rows], SCHEMA
    )
    stage_stream_file(
        mk([(0, 0), (1, 300)]), tmp_path / "feed", "b0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        mk([(2, 350), (3, 900)]), tmp_path / "feed", "b1.parquet",
        1_700_000_100,
    )
    work = _run(spark, tmp_path, min_gap_us=100)
    first = sorted(tuple(r) for r in read_kept_events(spark, work).collect())
    shutil.rmtree(tmp_path / "ckpt")
    work = _run(spark, tmp_path, min_gap_us=100)
    second = sorted(tuple(r) for r in read_kept_events(spark, work).collect())
    assert first == second


def test_stream_throttle_equals_batch_on_ascending_feed(spark, sf_dir, tmp_path):
    from myasynstreamjoin_spark.operators.sessions import throttle_events
    from myasynstreamjoin_spark.streaming.debounce import run_stream_throttle

    ev = tables.load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    mid = ev.agg(F.expr("percentile(ts, 0.5)")).collect()[0][0]
    os.makedirs(tmp_path / "feed")
    stage_stream_file(
        ev.where(F.col("ts") <= mid), tmp_path / "feed", "b0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        ev.where(F.col("ts") > mid), tmp_path / "feed", "b1.parquet",
        1_700_000_100,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_throttle(
        stream,
        spark,
        work_dir=str(tmp_path / "thr"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    streamed = sorted(
        tuple(r)
        for r in read_kept_events(spark, str(tmp_path / "thr")).collect()
    )
    batch = sorted(tuple(r) for r in throttle_events(ev).collect())
    assert streamed == batch


def test_stream_throttle_bucket_spanning_boundary(spark, tmp_path):
    """Bucket 0 spans both batches (window 100): t=10 kept in batch 0,
    t=60 (same bucket, batch 1) dropped; t=150 (bucket 1) kept."""
    from myasynstreamjoin_spark.streaming.debounce import run_stream_throttle

    os.makedirs(tmp_path / "feed")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(t * 1000, 7, "click", i) for i, t in rows], SCHEMA
    )
    stage_stream_file(
        mk([(0, 10)]), tmp_path / "feed", "b0.parquet", 1_700_000_000
    )
    stage_stream_file(
        mk([(1, 60), (2, 150)]), tmp_path / "feed", "b1.parquet",
        1_700_000_100,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_throttle(
        stream,
        spark,
        work_dir=str(tmp_path / "thr"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        window_us=100,
    )
    kept = sorted(
        r["ts_us"]
        for r in read_kept_events(spark, str(tmp_path / "thr")).collect()
    )
    assert kept == [10, 150]
