"""Streaming anomaly monitor: prior-batch baseline semantics, cold
start, restart resumption of baselines, and replay idempotence."""

from __future__ import annotations

import os
import shutil

from myasynstreamjoin_spark.streaming.anomaly import (
    read_flagged,
    run_streaming_anomalies,
)
from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "event_id long, event_type string, value double"


def _run(spark, tmp_path, k=3, min_count=10):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    out = str(tmp_path / "flagged")
    totals = run_streaming_anomalies(
        stream,
        spark,
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=k,
        min_count=min_count,
    )
    return out, totals


BASE = [(i, "a", 10.0 + (i % 3) * 0.1) for i in range(30)]
B1 = [(100, "a", 10.1), (101, "a", 500.0), (102, "a", 9.9)]


def test_spike_flagged_against_prior_batches_only(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        spark.createDataFrame(BASE, SCHEMA), feed, "f0.parquet", 1_700_000_000
    )
    stage_stream_file(
        spark.createDataFrame(B1, SCHEMA), feed, "f1.parquet", 1_700_000_100
    )
    out, totals = _run(spark, tmp_path)

    flagged = read_flagged(spark, out).collect()
    assert {r.event_id for r in flagged} == {101}
    assert flagged[0].batch_id == 1
    # totals include every row (the spike folds in AFTER being judged)
    assert totals["a"][0] == 33


def test_cold_start_never_flags(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        spark.createDataFrame([(0, "a", 1.0), (1, "a", 1000.0)], SCHEMA),
        feed, "f0.parquet", 1_700_000_000,
    )
    out, totals = _run(spark, tmp_path)
    assert read_flagged(spark, out) is None
    assert totals["a"][0] == 2


def test_groups_below_min_count_not_judged(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        spark.createDataFrame([(i, "rare", 1.0) for i in range(5)], SCHEMA),
        feed, "f0.parquet", 1_700_000_000,
    )
    stage_stream_file(
        spark.createDataFrame([(99, "rare", 999.0)], SCHEMA),
        feed, "f1.parquet", 1_700_000_100,
    )
    out, _ = _run(spark, tmp_path)
    assert read_flagged(spark, out) is None


def test_restart_resumes_baselines(spark, tmp_path):
    """Life 1 builds the baseline; life 2 (new monitor process, same
    checkpoint+state) must flag a spike using life 1's statistics —
    the thing an in-memory-only baseline gets wrong."""
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        spark.createDataFrame(BASE, SCHEMA), feed, "f0.parquet", 1_700_000_000
    )
    _run(spark, tmp_path)

    stage_stream_file(
        spark.createDataFrame(B1, SCHEMA), feed, "f1.parquet", 1_700_000_100
    )
    out, totals = _run(spark, tmp_path)
    flagged = read_flagged(spark, out).collect()
    assert {r.event_id for r in flagged} == {101}
    assert totals["a"][0] == 33


def test_replayed_batches_do_not_duplicate_flags(spark, tmp_path):
    """Wiping the checkpoint redelivers every batch: per-batch
    overwrite sinks and below-N state loading keep the flagged set
    and the totals identical."""
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        spark.createDataFrame(BASE, SCHEMA), feed, "f0.parquet", 1_700_000_000
    )
    stage_stream_file(
        spark.createDataFrame(B1, SCHEMA), feed, "f1.parquet", 1_700_000_100
    )
    out, _ = _run(spark, tmp_path)
    before = sorted(tuple(r) for r in read_flagged(spark, out).collect())

    shutil.rmtree(tmp_path / "ckpt")
    out, totals = _run(spark, tmp_path)
    after = sorted(tuple(r) for r in read_flagged(spark, out).collect())
    assert after == before
    assert totals["a"][0] == 33


def test_uncommitted_flag_dir_is_ignored(spark, tmp_path):
    """A crash mid-write leaves a b{N} dir with data but no _SUCCESS
    marker; read_flagged must return none of its rows."""
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        spark.createDataFrame(BASE, SCHEMA), feed, "f0.parquet", 1_700_000_000
    )
    stage_stream_file(
        spark.createDataFrame(B1, SCHEMA), feed, "f1.parquet", 1_700_000_100
    )
    out, _ = _run(spark, tmp_path)
    committed = read_flagged(spark, out)

    junk_dir = os.path.join(out, "b99")
    spark.createDataFrame([("a", 9999, 1e6, 99)], committed.schema).write.parquet(
        junk_dir
    )
    os.remove(os.path.join(junk_dir, "_SUCCESS"))
    assert {r.event_id for r in read_flagged(spark, out).collect()} == {101}
