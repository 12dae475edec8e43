"""Streaming-batch equivalence (SURVEY.md §7 phase 3 validation).

The reference's punctuation watermark (T2/T3) emits per-partition; the
engine's Structured Streaming watermark is global — emission *timing*
differs but the converged result must equal the batch answer restricted
to windows the final watermark passed:

    wm_ms = floor(max(ts)/1e6) - delay_ms
    emitted ⟺ (ltw + 1) * lgw_ms <= wm_ms

(le boundary verified empirically against Spark's state eviction.)
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from myasynstreamjoin_spark.config import DEFAULT_CONFIG as CFG
from myasynstreamjoin_spark.operators.asyn_join import min_count_per_window
from myasynstreamjoin_spark.sources import fixtures
from myasynstreamjoin_spark.streaming.stateful import stateful_min_count
from myasynstreamjoin_spark.streaming.windowed import (
    run_stream_to_table,
    stream_events,
    stream_min_count_join,
    stream_min_count_per_window,
)

DELAY_MS = 3_600_000  # cfg.watermark_delay = "1 hour"


@pytest.fixture(scope="module")
def ripe_filter(spark, sf_dir):
    pw = fixtures.ported_words(spark, sf_dir, CFG)
    max_ts = pw.agg(F.max("ts")).collect()[0][0]
    wm_ms = max_ts // 1_000_000 - DELAY_MS

    def ripe(rows):
        return {r for r in rows if (r[1] + 1) * CFG.lgw_ms <= wm_ms}

    return ripe


def test_windowed_stream_equals_batch(spark, sf_dir, ripe_filter):
    got = {
        tuple(r)
        for r in run_stream_to_table(
            stream_min_count_per_window(stream_events(spark, sf_dir), CFG), spark
        ).collect()
    }
    batch = {
        tuple(r)
        for r in min_count_per_window(
            fixtures.ported_words(spark, sf_dir, CFG), CFG
        ).collect()
    }
    assert got == ripe_filter(batch)
    assert got, "no windows ripened — fixture/watermark mismatch"


def test_stream_join_formulation_equals_batch(spark, sf_dir, ripe_filter):
    """J1 as chained stateful ops (per-source windowed aggs → multi-way
    stream-stream inner join) converges to the same table as the
    single-agg formulation and the batch answer."""
    got = {
        tuple(r)
        for r in run_stream_to_table(
            stream_min_count_join(stream_events(spark, sf_dir), CFG), spark
        ).collect()
    }
    batch = {
        tuple(r)
        for r in min_count_per_window(
            fixtures.ported_words(spark, sf_dir, CFG), CFG
        ).collect()
    }
    assert got == ripe_filter(batch)
    assert got


def test_stateful_zero_semantics_stream_equals_batch(spark, sf_dir, ripe_filter):
    got = {
        tuple(r)
        for r in run_stream_to_table(
            stateful_min_count(stream_events(spark, sf_dir), CFG), spark
        ).collect()
    }
    batch = {
        tuple(r)
        for r in min_count_per_window(
            fixtures.ported_words(spark, sf_dir, CFG), CFG, emit_zero_if_incomplete=True
        ).collect()
    }
    assert got == ripe_filter(batch)
    assert got


def test_parquet_file_sink_matches_memory_sink(spark, sf_dir, tmp_path):
    """The durable file sink commits exactly the rows the memory sink
    emits, and the partition column survives the round trip."""
    from myasynstreamjoin_spark.streaming.windowed import run_stream_to_parquet

    got = run_stream_to_parquet(
        stream_min_count_per_window(stream_events(spark, sf_dir), CFG),
        spark,
        out_path=str(tmp_path / "out"),
        partition_cols=["key"],
    )
    mem = run_stream_to_table(
        stream_min_count_per_window(stream_events(spark, sf_dir), CFG), spark
    )
    assert {tuple(sorted(r.asDict().items())) for r in got.collect()} == {
        tuple(sorted(r.asDict().items())) for r in mem.collect()
    }
    assert got.where(F.col("key").isNull()).count() == 0


def test_generalized_stateful_folds_equal_batch(spark, sf_dir):
    """The scalar generalization of the stateful op (A4 grouped max /
    sum via state) converges to the batch answer on ripe windows; sum
    compared with a float tolerance (accumulation order differs)."""
    import math

    from myasynstreamjoin_spark.streaming.stateful import stateful_window_value

    from myasynstreamjoin_spark.sources import tables

    ev = tables.load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm_ms = max_ts // 1_000_000 - DELAY_MS
    parsed = ev.select(
        F.col("event_type").alias("key"),
        F.floor((F.col("ts") / 1_000_000) / CFG.lgw_ms).cast("long").alias("ltw"),
        "value",
    )
    for fold, agg in (("max", F.max("value")), ("sum", F.sum("value"))):
        got = {
            (r["key"], r["ltw"]): r["val"]
            for r in run_stream_to_table(
                stateful_window_value(stream_events(spark, sf_dir), CFG, fold=fold),
                spark,
            ).collect()
        }
        batch = {
            (r["key"], r["ltw"]): r["v"]
            for r in parsed.groupBy("key", "ltw").agg(agg.alias("v")).collect()
            if (r["ltw"] + 1) * CFG.lgw_ms <= wm_ms
        }
        assert set(got) == set(batch), fold
        assert got, fold
        for k, v in batch.items():
            assert math.isclose(got[k], v, rel_tol=1e-9), (fold, k)


def test_rocksdb_state_store_equivalence(spark, sf_dir, ripe_filter):
    """The large-state deployment config (RocksDB provider + changelog
    checkpointing, session.prepare_streaming_scale) must produce the
    identical converged table as the default HDFS-backed provider —
    state-store choice is an executor-local detail, never semantics."""
    from myasynstreamjoin_spark.session import prepare_streaming_scale

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    prepare_streaming_scale(spark)
    try:
        got = {
            tuple(r)
            for r in run_stream_to_table(
                stream_min_count_per_window(stream_events(spark, sf_dir), CFG), spark
            ).collect()
        }
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
    batch = {
        tuple(r)
        for r in min_count_per_window(
            fixtures.ported_words(spark, sf_dir, CFG), CFG
        ).collect()
    }
    assert got == ripe_filter(batch)
    assert got


def test_replay_checkpoints_are_removed(spark, sf_dir, tmp_path):
    """A finite replay deletes the checkpoint dir it created once the
    query stops, and keeps its result; a checkpoint_dir the caller
    passed in is the caller's and stays."""
    import glob

    import __spark_entry__ as entry_mod

    pattern = "/dev/shm/masj_ckpt_*"
    before = set(glob.glob(pattern))
    df = entry_mod.queries()["q_stream_min_count_window"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert set(glob.glob(pattern)) == before
    assert df.count() > 0

    ckpt = tmp_path / "ckpt"
    got = run_stream_to_table(
        stream_min_count_per_window(stream_events(spark, sf_dir), CFG),
        spark,
        checkpoint_dir=str(ckpt),
    )
    assert got.count() == df.count()
    assert (ckpt / "offsets").is_dir() and (ckpt / "commits").is_dir()
