"""Checkpoint recovery — the T8 semantics the reference only had as a
mandatory mapWithState checkpoint dir: a streaming query stopped and
restarted from its checkpoint must process each input exactly once
into an idempotent file sink (offset log + sink manifest, no
duplicates, no gaps)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myasynstreamjoin_spark.session import SESSION_CONFS, prepare_session
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.windowed import (
    EVENTS_SCHEMA,
    stage_stream_file,
)

T0 = 1_700_000_000  # input file mtimes: the batch order
CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _event_halves(spark, sf_dir):
    # load_table normalizes ts; the halves written below are
    # engine-logical (EVENTS_SCHEMA) parquet.
    ev = tables.load_table(spark, sf_dir, "events")
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    return half1, half2, ev.count()


def _start(spark, src, out: str, ckpt: str):
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("event_id", "event_type")
    )
    return (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _run_once(spark, src, out: str, ckpt: str) -> None:
    q = _start(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_restart_from_checkpoint_is_exactly_once(spark, sf_dir, tmp_path):
    prepare_session(spark)
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    half1, half2, n_total = _event_halves(spark, sf_dir)

    # first life: only half the input exists
    stage_stream_file(half1, src, "a.parquet", T0)
    _run_once(spark, src, out, ckpt)
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < n_total

    # second life: new file arrives, query restarts from the checkpoint
    stage_stream_file(half2, src, "b.parquet", T0 + 1)
    _run_once(spark, src, out, ckpt)

    got = spark.read.parquet(out)
    # exactly once: every event exactly one row, nothing reprocessed
    assert got.count() == n_total
    assert got.select("event_id").distinct().count() == n_total


def test_restart_across_checkpoint_managers_is_exactly_once(spark, sf_dir, tmp_path):
    """A checkpoint written by Spark's default FileContext-based manager
    resumes exactly once under the engine's FileSystem-based one (the
    two write the same files), and a second run on a checkpoint whose
    query is still active is refused."""
    prepare_session(spark)
    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    half1, half2, n_total = _event_halves(spark, sf_dir)

    # first life under the FileContext manager
    stage_stream_file(half1, src, "a.parquet", T0)
    spark.conf.set(CKPT_MANAGER_KEY, FILE_CONTEXT_MANAGER)
    try:
        _run_once(spark, src, out, ckpt)
    finally:
        spark.conf.set(CKPT_MANAGER_KEY, SESSION_CONFS[CKPT_MANAGER_KEY])
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < n_total

    # second life under the engine default
    stage_stream_file(half2, src, "b.parquet", T0 + 1)
    q = _start(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        # Spark's default stops the active run on restart; with that
        # off, a second start on the same checkpoint must fail.
        restart_key = "spark.sql.streaming.stopActiveRunOnRestart"
        spark.conf.set(restart_key, "false")
        try:
            with pytest.raises(Exception, match="already active"):
                _start(spark, src, out, ckpt).stop()
        finally:
            spark.conf.unset(restart_key)
        assert q.isActive
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.count() == n_total
    assert got.select("event_id").distinct().count() == n_total

    # A writer in another process is held off by the offset log itself:
    # the manager never replaces a batch file that exists.
    jvm = spark._jvm
    batch0 = tmp_path / "ckpt" / "offsets" / "0"
    logged = batch0.read_bytes()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(ckpt),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    stream = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(str(batch0)), False)
    stream.write(ord("x"))
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        stream.close()
    assert batch0.read_bytes() == logged
