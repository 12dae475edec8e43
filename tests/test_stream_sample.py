"""Streaming weighted reservoir (streaming/sample.py): the
Efraimidis–Spirakis key is a pure row function, so the reservoir
equals the batch sampler under ANY batch split — pinned for two
different splits — with replay idempotence and the k-row state
bound."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.functions.pipeline import weighted_sample_k
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.sample import (
    read_sample,
    run_stream_weighted_sample,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

K = 20


def _scored(spark, sf_dir):
    from myasynstreamjoin_spark.functions.text import quality_score

    return quality_score(tables.load_table(spark, sf_dir, "documents"))


def _run(spark, tmp_path):
    scored_schema = "doc_id long, quality double"
    stream = (
        spark.readStream.schema(scored_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_weighted_sample(
        stream,
        spark,
        work_dir=str(tmp_path / "wrs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        weight_col="quality",
        k=K,
    )
    return str(tmp_path / "wrs")


def _stage_split(spark, sf_dir, tmp_path, pred0, pred1):
    scored = _scored(spark, sf_dir)
    os.makedirs(tmp_path / "feed")
    stage_stream_file(
        scored.where(pred0), tmp_path / "feed", "b0.parquet", 1_700_000_000
    )
    stage_stream_file(
        scored.where(pred1), tmp_path / "feed", "b1.parquet", 1_700_000_100
    )
    return scored


def test_stream_equals_batch_under_parity_split(spark, sf_dir, tmp_path):
    scored = _stage_split(
        spark, sf_dir, tmp_path,
        F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1,
    )
    work = _run(spark, tmp_path)
    streamed = sorted(tuple(r) for r in read_sample(spark, work).collect())
    batch = sorted(
        tuple(r) for r in weighted_sample_k(scored, "quality", K).collect()
    )
    assert streamed == batch


def test_stream_equals_batch_under_range_split(spark, sf_dir, tmp_path):
    scored = _stage_split(
        spark, sf_dir, tmp_path,
        F.col("doc_id") >= 100, F.col("doc_id") < 100,
    )
    work = _run(spark, tmp_path)
    streamed = sorted(tuple(r) for r in read_sample(spark, work).collect())
    batch = sorted(
        tuple(r) for r in weighted_sample_k(scored, "quality", K).collect()
    )
    assert streamed == batch


def test_reservoir_versions_are_k_bounded(spark, sf_dir, tmp_path):
    _stage_split(
        spark, sf_dir, tmp_path,
        F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1,
    )
    work = _run(spark, tmp_path)
    state_dir = os.path.join(work, "reservoir")
    versions = [d for d in os.listdir(state_dir) if d.startswith("v")]
    assert len(versions) == 2
    for v in versions:
        n = spark.read.parquet(os.path.join(state_dir, v)).count()
        assert n <= K


def test_replay_is_idempotent(spark, sf_dir, tmp_path):
    _stage_split(
        spark, sf_dir, tmp_path,
        F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1,
    )
    work = _run(spark, tmp_path)
    first = sorted(tuple(r) for r in read_sample(spark, work).collect())
    shutil.rmtree(tmp_path / "ckpt")
    work = _run(spark, tmp_path)
    second = sorted(tuple(r) for r in read_sample(spark, work).collect())
    assert first == second
