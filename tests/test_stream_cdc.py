"""Streaming CDC → versioned snapshot: the final snapshot must equal
the batch MERGE of the full feed, versions must be monotone, and a
replayed batch must be idempotent."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.cdc import cdc_apply
from myasynstreamjoin_spark.streaming.cdc import (
    read_snapshot,
    run_cdc_stream,
)
from myasynstreamjoin_spark.streaming.commits import latest_version

CHANGE_SCHEMA = "k long, name string, v double, op string, gen long"


def _write_feed_file(spark, path, rows):
    spark.createDataFrame(rows, CHANGE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(path) + ".tmp")
    for f in os.listdir(str(path) + ".tmp"):
        if f.startswith("part-") and f.endswith(".parquet"):
            shutil.move(os.path.join(str(path) + ".tmp", f), str(path))
    shutil.rmtree(str(path) + ".tmp")


def _run(spark, tmp_path, feed_dir):
    changes = (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed_dir))
    )
    run_cdc_stream(
        changes,
        snapshot_dir=str(tmp_path / "snap"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=("k",),
        order_cols=("gen",),
    )


GEN1 = [
    (1, "a", 1.0, "I", 1),
    (2, "b", 2.0, "I", 1),
    (3, "c", 3.0, "I", 1),
]
GEN2 = [
    (2, "b2", 22.0, "U", 2),   # update
    (3, None, 0.0, "D", 2),    # delete
    (4, "d", 4.0, "I", 2),     # insert
]


def test_stream_merge_equals_batch_merge(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    _write_feed_file(spark, feed / "f1.parquet", GEN1)
    _write_feed_file(spark, feed / "f2.parquet", GEN2)
    _run(spark, tmp_path, feed)

    snap = read_snapshot(spark, str(tmp_path / "snap"))
    got = {r.k: (r.name, r.v) for r in snap.collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 22.0), 4: ("d", 4.0)}

    # equal to the one-shot batch merge of the full feed
    empty = spark.createDataFrame([], "k long, name string, v double")
    full = cdc_apply(
        empty,
        spark.createDataFrame(GEN1 + GEN2, CHANGE_SCHEMA),
        keys=("k",),
        order_cols=("gen",),
    )
    assert {r.k: (r.name, r.v) for r in full.collect()} == got

    # one committed version per micro-batch, monotone
    assert latest_version(str(tmp_path / "snap")) == 1


def test_new_feed_files_continue_from_checkpoint(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    _write_feed_file(spark, feed / "f1.parquet", GEN1)
    _run(spark, tmp_path, feed)
    assert read_snapshot(spark, str(tmp_path / "snap")).count() == 3

    # second life: a new feed file arrives, restart from the checkpoint
    _write_feed_file(spark, feed / "f2.parquet", GEN2)
    _run(spark, tmp_path, feed)
    got = {r.k: (r.name, r.v) for r in
           read_snapshot(spark, str(tmp_path / "snap")).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 22.0), 4: ("d", 4.0)}


def test_replayed_batch_is_idempotent(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()
    _write_feed_file(spark, feed / "f1.parquet", GEN1)
    _write_feed_file(spark, feed / "f2.parquet", GEN2)
    _run(spark, tmp_path, feed)
    before = {tuple(r) for r in
              read_snapshot(spark, str(tmp_path / "snap")).collect()}

    # simulate at-least-once redelivery of the last batch: wipe the
    # checkpoint's commit for batch 1 by re-running the whole feed with
    # a FRESH checkpoint (every batch redelivered onto the existing
    # snapshot dir)
    shutil.rmtree(tmp_path / "ckpt")
    _run(spark, tmp_path, feed)
    after = {tuple(r) for r in
             read_snapshot(spark, str(tmp_path / "snap")).collect()}
    assert after == before


def test_vacuum_keeps_live_versions_and_replay_base(spark, tmp_path):
    import os

    import pytest

    from myasynstreamjoin_spark.streaming.commits import (
        vacuum_versions as vacuum_snapshots,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    _write_feed_file(spark, feed / "f0.parquet", GEN1[:1])
    _write_feed_file(spark, feed / "f1.parquet", GEN1[1:])
    _write_feed_file(spark, feed / "f2.parquet", GEN2)
    _run(spark, tmp_path, feed)
    snap = str(tmp_path / "snap")
    # an uncommitted (crashed) write must be cleaned too
    os.makedirs(os.path.join(snap, "v99"))
    removed = vacuum_snapshots(snap, keep=2)
    # v0 goes; v1 SURVIVES as v2's replay base; junk v99 goes
    assert removed == [0, 99]
    assert latest_version(snap) == 2
    assert read_snapshot(spark, snap).count() == 3
    # keep=1 would vacuum the replay base away — refused
    with pytest.raises(ValueError, match="keep must be >= 2"):
        vacuum_snapshots(snap, keep=1)
