"""Streaming content-defined-chunk dedup (streaming/cdcchunks.py):
the folded index's stats equal the batch operator's under ANY batch
order (count folding is commutative — no ascending-feed requirement),
replays against the versioned index are idempotent, and a version
without its root commit marker is invisible.
"""

from __future__ import annotations

import os
import shutil

from myasynstreamjoin_spark.functions.dedup import cdc_dedup_stats
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.cdcchunks import (
    read_chunk_stats,
    run_stream_cdc_chunks,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "doc_id long, text string, source string"


def _run(spark, tmp_path):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_cdc_chunks(
        stream,
        spark,
        work_dir=str(tmp_path / "cc"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    return str(tmp_path / "cc")


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_equals_batch_under_both_feed_orders(spark, sf_dir, tmp_path):
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    batch = _collect(cdc_dedup_stats(docs))
    n = docs.count()
    lo, hi = docs.where(docs.doc_id < n // 2), docs.where(docs.doc_id >= n // 2)
    for order, halves in (("asc", (lo, hi)), ("desc", (hi, lo))):
        feed_root = tmp_path / order
        os.makedirs(feed_root / "feed")
        stage_stream_file(halves[0], feed_root / "feed", "b0.parquet", 1_700_000_000)
        stage_stream_file(halves[1], feed_root / "feed", "b1.parquet", 1_700_000_100)
        work = _run(spark, feed_root)
        assert _collect(read_chunk_stats(spark, work)) == batch, order


def test_replay_is_idempotent(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog", "web")], SCHEMA
    )
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "web")], SCHEMA
    )
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    stage_stream_file(b1, tmp_path / "feed", "b1.parquet", 1_700_000_100)
    work = _run(spark, tmp_path)
    first = _collect(read_chunk_stats(spark, work))
    # identical docs -> every chunk of doc 0 duplicated by doc 1
    assert first[0][4] > 0  # dup_chunks column
    shutil.rmtree(tmp_path / "ckpt")
    work = _run(spark, tmp_path)
    assert _collect(read_chunk_stats(spark, work)) == first


def test_uncommitted_version_is_invisible(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame([(0, "hello world hello world", "web")], SCHEMA)
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    work = _run(spark, tmp_path)
    committed = _collect(read_chunk_stats(spark, work))
    # fabricate a half-written later version: sub-datasets exist but
    # the version's root _SUCCESS (written LAST by commit()) does not
    junk = os.path.join(work, "chunks", "v99")
    for sub in ("chunks", "docs"):
        shutil.copytree(
            os.path.join(work, "chunks", "v0", sub), os.path.join(junk, sub)
        )
    assert _collect(read_chunk_stats(spark, work)) == committed
