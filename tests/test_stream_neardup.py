"""Streaming near-dup detection: the union of per-batch pairs must
equal the batch MinHash operator's pair set, pairs appear when the
later doc arrives, and replays don't duplicate."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.functions.dedup import minhash_lsh_pairs
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.neardup import (
    read_neardup_pairs,
    run_stream_neardup,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "doc_id long, text string"


def _run(spark, tmp_path):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_neardup(
        stream,
        spark,
        work_dir=str(tmp_path / "nd"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    return str(tmp_path / "nd")


def _docs(spark, sf_dir):
    return tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )


def test_stream_pairs_equal_batch_operator(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        docs.where(F.col("doc_id") % 2 == 0), feed, "f0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        docs.where(F.col("doc_id") % 2 == 1), feed, "f1.parquet",
        1_700_000_100,
    )
    wd = _run(spark, tmp_path)

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_neardup_pairs(spark, wd).collect()
    }
    expect = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()
    }
    assert got == expect and len(expect) > 0

    # every cross-batch pair (even, odd) surfaced in batch 1
    by_batch = {
        (r.doc_a, r.doc_b): r
        for r in spark.read.parquet(os.path.join(wd, "pairs", "b1")).collect()
    }
    for a, b, _ in got:
        if a % 2 != b % 2:
            assert (a, b) in by_batch


def test_replay_does_not_duplicate_pairs(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        docs.where(F.col("doc_id") % 2 == 0), feed, "f0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        docs.where(F.col("doc_id") % 2 == 1), feed, "f1.parquet",
        1_700_000_100,
    )
    wd = _run(spark, tmp_path)
    before = sorted(
        tuple(r) for r in read_neardup_pairs(spark, wd).collect()
    )
    shutil.rmtree(tmp_path / "ckpt")
    _run(spark, tmp_path)
    after = sorted(
        tuple(r) for r in read_neardup_pairs(spark, wd).collect()
    )
    assert after == before
