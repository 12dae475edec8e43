"""prepare_session contract (round 12): SESSION_CONFS apply once per
session — per-query re-application was ~3.8 ms × 34 queries × 3 passes
of pure py4j overhead inside the bench's timed region — and a caller's
deliberate mid-session override is respected until ``force=True``. A
conf the session refuses is warned about, never dropped silently.
"""

from __future__ import annotations

import pytest

from myasynstreamjoin_spark import session
from myasynstreamjoin_spark.session import SESSION_CONFS, prepare_session

CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_prepare_session_applies_once_and_respects_overrides(spark):
    key = "spark.sql.session.timeZone"
    assert SESSION_CONFS[key] == "UTC"
    prepare_session(spark)
    assert spark.conf.get(key) == "UTC"

    # caller overrides a SESSION_CONF mid-session: a later per-query
    # prepare_session must NOT silently clobber it...
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        prepare_session(spark)
        assert spark.conf.get(key) == "America/New_York"
        # ...but force=True restores the engine defaults
        prepare_session(spark, force=True)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, prev)


def test_prepare_session_shuffle_partitions_still_applied(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        prepare_session(spark, shuffle_partitions=int(prev) + 1)
        assert spark.conf.get(key) == str(int(prev) + 1)
    finally:
        spark.conf.set(key, prev)


def test_replay_state_partitions_rule(spark):
    """Data-proportional replay width (r12): floor(2) for small
    replays, ~1 partition per 64 MB, capped at scheduler parallelism."""
    from myasynstreamjoin_spark.streaming.windowed import (
        replay_state_partitions,
    )

    cap = spark.sparkContext.defaultParallelism
    assert replay_state_partitions(spark, 0) == 2
    assert replay_state_partitions(spark, 2 << 20) == 2          # 2 MB
    assert replay_state_partitions(spark, 320 << 20) == min(cap, 5)
    assert replay_state_partitions(spark, 1 << 40) == cap        # 1 TB
    assert replay_state_partitions(spark, 0, floor=4) == 4


def test_refused_conf_is_warned_not_swallowed(spark, monkeypatch):
    """A static conf cannot be set on a running session: prepare_session
    must name the key in a warning, and still apply the other confs."""
    key = "spark.sql.warehouse.dir"
    monkeypatch.setitem(session.SESSION_CONFS, key, "/nonexistent-warehouse")
    tz = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz)
    spark.conf.set(tz, "America/New_York")
    try:
        with pytest.warns(RuntimeWarning, match=key):
            prepare_session(spark, force=True)
        assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(tz, prev)


def test_checkpoint_manager_routes_to_filesystem_api(spark, tmp_path):
    """Streaming checkpoints of a prepared session go through the
    FileSystem-based manager, not the FileContext default that forks
    `readlink` per rename on a local path."""
    prepare_session(spark)
    assert SESSION_CONFS[CKPT_MANAGER_KEY].endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == SESSION_CONFS[CKPT_MANAGER_KEY]
