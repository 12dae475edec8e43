"""prepare_session contract (round 12): SESSION_CONFS apply once per
session — per-query re-application was ~3.8 ms × 34 queries × 3 passes
of pure py4j overhead inside the bench's timed region — and a caller's
deliberate mid-session override is respected until ``force=True``. A
conf the session refuses is warned about, never dropped silently.
The two widths: a batch exchange starts at the core count, a stream's
state at the rule's width, and only session.py names the width confs.
A get_spark session's codegen cache holds a working set larger than
Spark's default 100 classes.
"""

from __future__ import annotations

import ast
import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

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
    """Data-proportional replay width (r12): floor(1) for small
    replays, ~1 partition per 64 MB, capped at scheduler parallelism."""
    from myasynstreamjoin_spark.streaming.windowed import (
        replay_state_partitions,
    )

    cap = spark.sparkContext.defaultParallelism
    assert replay_state_partitions(spark, 0) == 1
    assert replay_state_partitions(spark, 2 << 20) == 1          # 2 MB
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


def _restore(spark, saved: dict) -> None:
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_get_spark_plans_batch_at_core_count(spark):
    """A get_spark session starts a batch exchange at the core count,
    with AQE coalescing on or off, while its state width is the rule's."""
    from myasynstreamjoin_spark.session import (
        BATCH_WIDTH,
        SHUFFLE_WIDTH,
        STATE_WIDTH,
        batch_width,
        get_spark,
        replay_state_partitions,
    )
    from tests.conftest import hash_exchange_widths

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = int(cpus) if cpus.isdigit() else 32
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    keys = (SHUFFLE_WIDTH, BATCH_WIDTH, STATE_WIDTH, coalesce)
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        # the running session, configured the way get_spark builds one
        assert get_spark() is spark
        assert spark.conf.get(STATE_WIDTH) == str(replay_state_partitions(spark, 0))
        for on in ("true", "false"):
            spark.conf.set(coalesce, on)
            df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
            assert len(df.collect()) == 7
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert hash_exchange_widths([plan]) == {cores}, on
            assert batch_width(spark) == cores
    finally:
        _restore(spark, saved)


def test_batch_width_follows_the_conf_spark_plans_with(spark):
    """batch_width mirrors SQLConf.numShufflePartitions: AQE's initial
    width while AQE coalescing is on and it is set, else the shuffle
    width; override_widths sets that conf and restores it."""
    from myasynstreamjoin_spark.session import (
        BATCH_WIDTH,
        SHUFFLE_WIDTH,
        STATE_WIDTH,
        batch_width,
        override_widths,
    )

    aqe = "spark.sql.adaptive.enabled"
    keys = (SHUFFLE_WIDTH, BATCH_WIDTH, STATE_WIDTH, aqe)
    saved = {k: spark.conf.get(k) for k in keys}
    jconf = spark._jsparkSession.sessionState().conf()
    try:
        spark.conf.set(BATCH_WIDTH, "6")
        spark.conf.set(SHUFFLE_WIDTH, "3")
        assert batch_width(spark) == jconf.numShufflePartitions() == 6
        with override_widths(spark, batch=5):
            assert batch_width(spark) == jconf.numShufflePartitions() == 5
            assert spark.conf.get(SHUFFLE_WIDTH) == "3"
        assert spark.conf.get(BATCH_WIDTH) == "6"
        spark.conf.unset(BATCH_WIDTH)
        assert batch_width(spark) == jconf.numShufflePartitions() == 3
        with override_widths(spark, batch=5):
            assert batch_width(spark) == 5
        assert spark.conf.get(BATCH_WIDTH) is None  # unset again
        spark.conf.set(BATCH_WIDTH, "6")
        spark.conf.set(aqe, "false")
        assert batch_width(spark) == jconf.numShufflePartitions() == 3
        with override_widths(spark, batch=5):
            assert batch_width(spark) == jconf.numShufflePartitions() == 5
        assert spark.conf.get(SHUFFLE_WIDTH) == "3"
        state = spark.conf.get(STATE_WIDTH)
        with override_widths(spark, state=2):
            assert spark.conf.get(STATE_WIDTH) == "2"
            assert batch_width(spark) == 3
        assert spark.conf.get(STATE_WIDTH) == state
    finally:
        _restore(spark, saved)


def test_stream_state_width_is_the_rule(spark, tmp_path):
    """A stateful stream started straight on the session runs its state
    at the rule's width for no input (the session's state width)."""
    from myasynstreamjoin_spark.config import EngineConfig
    from myasynstreamjoin_spark.session import batch_width, replay_state_partitions
    from myasynstreamjoin_spark.streaming.windowed import (
        stream_min_count_per_window,
    )

    rate = spark.readStream.format("rate").option("rowsPerSecond", 200).load()
    events = rate.select(
        (F.unix_micros("timestamp") * 1000).alias("ts"),
        F.col("value").alias("user_id"),
        F.concat(F.lit("k"), (F.col("value") % 5).cast("string")).alias("event_type"),
    )
    cfg = EngineConfig(lgw_ms=1000, watermark_delay="1 second")
    q = (
        stream_min_count_per_window(events, cfg)
        .writeStream.format("noop")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .option("checkpointLocation", str(tmp_path))
        .start()
    )
    ops = []
    try:
        deadline = time.monotonic() + 90
        while not ops and time.monotonic() < deadline:
            ops = [
                op
                for p in q.recentProgress
                for op in json.loads(p.json).get("stateOperators", [])
            ]
            time.sleep(0.5)
    finally:
        q.stop()
    assert ops, "no micro-batch reported its state operator"
    assert {op["numStateStoreInstances"] for op in ops} == {
        replay_state_partitions(spark, 0)
    }
    # the batch width of the same session is not the state width
    assert batch_width(spark) > replay_state_partitions(spark, 0)


def test_only_session_module_names_the_width_confs():
    """Every read or change of a width goes through session.py
    (batch_width, override_widths, get_spark): a direct conf read would
    take the state width for the batch width, or the reverse."""
    from myasynstreamjoin_spark.session import BATCH_WIDTH, SHUFFLE_WIDTH, STATE_WIDTH
    from tests.conftest import code_nodes

    root = Path(__file__).resolve().parent.parent
    files = sorted((root / "myasynstreamjoin_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    found = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in files
        if path != root / "myasynstreamjoin_spark" / "session.py"
        for node in code_nodes(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and any(k in node.value for k in (SHUFFLE_WIDTH, BATCH_WIDTH, STATE_WIDTH))
    ]
    assert not found, "width conf named outside session.py:\n" + "\n".join(found)


def test_codegen_cache_holds_a_repeated_working_set(spark):
    """More distinct plans than Spark's default 100-entry codegen LRU,
    built and executed twice on the get_spark session: the second round
    compiles nothing. With Spark's cap of 100, most plans of the second
    round had been evicted before they came back and were compiled
    again."""
    from myasynstreamjoin_spark.observe import codegen_compiles
    from myasynstreamjoin_spark.session import CODEGEN_CACHE_ENTRIES

    n = 110
    assert n < CODEGEN_CACHE_ENTRIES
    # one whole-stage class per literal; a salt no other test uses
    salt = 7_000_003
    exprs = [f"id * {salt + i} AS y" for i in range(n)]

    def run_all() -> int:
        start = codegen_compiles(spark)
        for expr in exprs:
            df = spark.range(1, numPartitions=1).selectExpr(expr)
            # plan and compile on the driver, without a job per plan
            df._jdf.queryExecution().executedPlan().execute()
        return codegen_compiles(spark) - start

    assert run_all() >= n
    assert run_all() == 0
