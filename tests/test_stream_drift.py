"""Streaming PSI drift monitor: stream ≡ batch against
``drift_timeline`` when batches are windows in order, first-batch
silence, replay idempotence, and restart resumption of the
predecessor histogram."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.stats import drift_timeline
from myasynstreamjoin_spark.streaming.drift import (
    read_drift,
    run_streaming_drift,
)

SCHEMA = "event_id long, ts long, event_type string, value double"
HOUR_NS = 3_600_000_000_000


def _events(spark, sf_dir):
    from myasynstreamjoin_spark.sources import tables

    return tables.load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )


def _bounds(events):
    r = events.where(F.col("value").isNotNull()).agg(
        F.min(F.round(F.col("value") * 1000).cast("long")).alias("mn"),
        F.max(F.round(F.col("value") * 1000).cast("long")).alias("mx"),
    ).collect()[0]
    return int(r["mn"]), int(r["mx"])


def _stage_windows(spark, events, feed, limit=None):
    """One staged file per event-time hour window, ascending — the
    batch-equals-window feed shape the equivalence statement needs."""
    from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

    feed.mkdir(exist_ok=True)
    wins = [
        int(r["w"])
        for r in events.select(
            F.expr(f"ts DIV {HOUR_NS}L").alias("w")
        ).distinct().orderBy("w").collect()
    ]
    if limit is not None:
        wins = wins[:limit]
    for i, w in enumerate(wins):
        batch = events.where(F.expr(f"ts DIV {HOUR_NS}L") == w)
        stage_stream_file(batch, feed, f"w{i:03d}.parquet", 1_700_000_000 + i)
    return wins


def _run(spark, tmp_path, bounds):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    out = str(tmp_path / "drift")
    run_streaming_drift(
        stream,
        spark,
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        bounds=bounds,
    )
    return out


def _rows(df):
    return sorted(
        (r["win_start_ns"], r["n_prev"], r["n_cur"], r["psi"])
        for r in df.collect()
    )


def test_stream_equals_batch_drift_timeline(spark, sf_dir, tmp_path):
    events = _events(spark, sf_dir)
    bounds = _bounds(events)
    _stage_windows(spark, events, tmp_path / "feed", limit=8)
    out = _run(spark, tmp_path, bounds)

    # batch reference over exactly the staged windows
    wins = [
        int(r["w"])
        for r in events.select(F.expr(f"ts DIV {HOUR_NS}L").alias("w"))
        .distinct()
        .orderBy("w")
        .collect()
    ][:8]
    subset = events.where(F.expr(f"ts DIV {HOUR_NS}L").isin(wins))
    want = _rows(drift_timeline(subset, bounds=bounds))
    got = _rows(read_drift(spark, out))
    assert got == want
    # psi must be bit-identical, not merely close — shared expressions
    assert all(g[3] == w[3] for g, w in zip(got, want))


def test_first_batch_emits_nothing(spark, sf_dir, tmp_path):
    events = _events(spark, sf_dir)
    bounds = _bounds(events)
    _stage_windows(spark, events, tmp_path / "feed", limit=1)
    out = _run(spark, tmp_path, bounds)
    df = read_drift(spark, out)
    assert df is None or df.count() == 0


def test_full_replay_is_idempotent(spark, sf_dir, tmp_path):
    events = _events(spark, sf_dir)
    bounds = _bounds(events)
    _stage_windows(spark, events, tmp_path / "feed", limit=5)
    out = _run(spark, tmp_path, bounds)
    first = _rows(read_drift(spark, out))

    # replay the whole stream from scratch (fresh checkpoint, same
    # out/state dirs): per-batch overwrite + pre-N state rule must
    # reproduce the identical rows, no duplicates
    shutil.rmtree(tmp_path / "ckpt")
    _run(spark, tmp_path, bounds)
    assert _rows(read_drift(spark, out)) == first


def test_restart_resumes_predecessor_histogram(spark, sf_dir, tmp_path):
    events = _events(spark, sf_dir)
    bounds = _bounds(events)
    wins = _stage_windows(spark, events, tmp_path / "feed", limit=3)

    # run the first two windows only
    feed = tmp_path / "feed"
    third = feed / "w002.parquet"
    moved = tmp_path / "w002.parquet"
    third.rename(moved)
    _run(spark, tmp_path, bounds)

    # the third window arrives; SAME checkpoint continues the stream
    moved.rename(third)
    out = _run(spark, tmp_path, bounds)

    subset = events.where(F.expr(f"ts DIV {HOUR_NS}L").isin(list(wins)))
    want = _rows(drift_timeline(subset, bounds=bounds))
    assert _rows(read_drift(spark, out)) == want
