"""Streaming sketch accumulators (streaming/sketches.py): order-free
merges make the accumulated state equal a batch sketch over all rows
seen — Theta exactly (below threshold), KLL in counts and rank bands —
under ANY batch split; replays are idempotent."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.stats import audience_set_algebra
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.sketches import (
    read_quantile_estimates,
    read_theta_algebra,
    run_stream_quantile_sketches,
    run_stream_theta_sketches,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

PAIRS = [("click", "purchase"), ("view", "error")]


def _stage_events(spark, sf_dir, tmp_path):
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    os.makedirs(tmp_path / "feed")
    stage_stream_file(
        ev.where(F.col("user_id") % 2 == 0),
        tmp_path / "feed", "b0.parquet", 1_700_000_000,
    )
    stage_stream_file(
        ev.where(F.col("user_id") % 2 == 1),
        tmp_path / "feed", "b1.parquet", 1_700_000_100,
    )
    return ev, "event_type string, user_id long, value double"


def _stream(spark, tmp_path, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )


def test_stream_kll_counts_and_bands(spark, sf_dir, tmp_path):
    ev, schema = _stage_events(spark, sf_dir, tmp_path)
    run_stream_quantile_sketches(
        _stream(spark, tmp_path, schema),
        spark,
        work_dir=str(tmp_path / "wk"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["grp"]: r
        for r in read_quantile_estimates(spark, str(tmp_path / "wk")).collect()
    }
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.expr("percentile(value, 0.05)").alias("lo10"),
            F.expr("percentile(value, 0.15)").alias("hi10"),
            F.expr("percentile(value, 0.45)").alias("lo50"),
            F.expr("percentile(value, 0.55)").alias("hi50"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for grp, r in got.items():
        assert r["n_total"] == exact[grp]["n"]
        assert exact[grp]["lo10"] <= r["est_q10"] <= exact[grp]["hi10"]
        assert exact[grp]["lo50"] <= r["est_q50"] <= exact[grp]["hi50"]


def test_stream_theta_equals_batch_exactly(spark, sf_dir, tmp_path):
    ev, schema = _stage_events(spark, sf_dir, tmp_path)
    run_stream_theta_sketches(
        _stream(spark, tmp_path, schema),
        spark,
        work_dir=str(tmp_path / "wt"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    streamed = sorted(
        tuple(r)
        for r in read_theta_algebra(
            spark, str(tmp_path / "wt"), PAIRS
        ).collect()
    )
    batch = sorted(
        tuple(r) for r in audience_set_algebra(ev, PAIRS).collect()
    )
    assert streamed == batch


def test_stream_theta_replay_is_idempotent(spark, sf_dir, tmp_path):
    _, schema = _stage_events(spark, sf_dir, tmp_path)
    run_stream_theta_sketches(
        _stream(spark, tmp_path, schema),
        spark,
        work_dir=str(tmp_path / "wt"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    first = sorted(
        tuple(r)
        for r in read_theta_algebra(spark, str(tmp_path / "wt"), PAIRS).collect()
    )
    shutil.rmtree(tmp_path / "ckpt")
    run_stream_theta_sketches(
        _stream(spark, tmp_path, schema),
        spark,
        work_dir=str(tmp_path / "wt"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    second = sorted(
        tuple(r)
        for r in read_theta_algebra(spark, str(tmp_path / "wt"), PAIRS).collect()
    )
    assert first == second


def test_stream_hll_matches_exact_at_test_cardinality(spark, sf_dir, tmp_path):
    """HLL at lg_k=12 over test cardinalities (≪ 2^12) estimates
    exactly; the streamed accumulator must therefore equal exact
    countDistinct per group under the unordered split."""
    from myasynstreamjoin_spark.streaming.sketches import (
        read_distinct_estimates,
        run_stream_hll_sketches,
    )

    ev, schema = _stage_events(spark, sf_dir, tmp_path)
    run_stream_hll_sketches(
        _stream(spark, tmp_path, schema),
        spark,
        work_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["grp"]: r["est_distinct"]
        for r in read_distinct_estimates(spark, str(tmp_path / "wh")).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact
