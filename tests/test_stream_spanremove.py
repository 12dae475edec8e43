"""Streaming duplicate-span removal (streaming/spanremove.py): with
ascending doc_id batches the union of per-batch cleaned docs equals
the batch operator's output; cross-batch suppression deletes ALL
later occurrences of an indexed gram; replays against the versioned
index are idempotent."""

from __future__ import annotations

import os
import shutil

from myasynstreamjoin_spark.functions.dedup import remove_duplicate_spans
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.spanremove import (
    read_clean_docs,
    run_stream_remove_spans,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "doc_id long, text string"


def _run(spark, tmp_path, k=8):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_remove_spans(
        stream,
        spark,
        work_dir=str(tmp_path / "rs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=k,
    )
    return str(tmp_path / "rs")


def test_stream_equals_batch_on_ascending_feed(spark, sf_dir, tmp_path):
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    os.makedirs(tmp_path / "feed")
    n = docs.count()
    stage_stream_file(
        docs.where(docs.doc_id < n // 2),
        tmp_path / "feed", "b0.parquet", 1_700_000_000,
    )
    stage_stream_file(
        docs.where(docs.doc_id >= n // 2),
        tmp_path / "feed", "b1.parquet", 1_700_000_100,
    )
    work = _run(spark, tmp_path)
    streamed = sorted(
        tuple(r) for r in read_clean_docs(spark, work).collect()
    )
    batch = sorted(
        tuple(r) for r in remove_duplicate_spans(docs, k=8).collect()
    )
    assert streamed == batch


def test_cross_batch_suppression_and_within_batch_election(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], SCHEMA
    )
    # batch 1: doc 5 repeats the indexed span (fully suppressed region),
    # docs 6 and 7 share a NEW span — within-batch election keeps doc 6's
    b1 = spark.createDataFrame(
        [
            (5, "x y a b c d e f g h"),
            (6, "p q r s t u v w 1 2"),
            (7, "p q r s t u v w 3 4"),
        ],
        SCHEMA,
    )
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    stage_stream_file(b1, tmp_path / "feed", "b1.parquet", 1_700_000_100)
    work = _run(spark, tmp_path)
    out = {
        r["doc_id"]: (r["n_removed"], r["text_clean"])
        for r in read_clean_docs(spark, work).collect()
    }
    assert out[0] == (0, "a b c d e f g h i j")
    assert out[5] == (8, "x y")
    assert out[6] == (0, "p q r s t u v w 1 2")
    assert out[7] == (8, "3 4")


def test_replay_is_idempotent(spark, tmp_path):
    """Dropping the checkpoint and re-draining the same feed rewrites
    the same per-batch sinks against the original index versions —
    cleaned output unchanged."""
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame([(0, "a b c d e f g h i j")], SCHEMA)
    b1 = spark.createDataFrame([(5, "x y a b c d e f g h")], SCHEMA)
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    stage_stream_file(b1, tmp_path / "feed", "b1.parquet", 1_700_000_100)
    work = _run(spark, tmp_path)
    first = sorted(tuple(r) for r in read_clean_docs(spark, work).collect())
    shutil.rmtree(tmp_path / "ckpt")
    work = _run(spark, tmp_path)
    second = sorted(tuple(r) for r in read_clean_docs(spark, work).collect())
    assert first == second


def test_uncommitted_batch_dir_is_ignored(spark, tmp_path):
    """A crash mid-batch-write leaves a b{N} dir without Spark's
    _SUCCESS marker; read_clean_docs must skip it (partial/duplicate
    rows) exactly like latest_version's committed-version rule."""
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    work = _run(spark, tmp_path)
    committed = sorted(
        tuple(r) for r in read_clean_docs(spark, work).collect()
    )
    # simulate the crash: a half-written b99 with data but no _SUCCESS
    junk_dir = os.path.join(work, "clean", "b99")
    b0.write.parquet(junk_dir)
    os.remove(os.path.join(junk_dir, "_SUCCESS"))
    after = sorted(tuple(r) for r in read_clean_docs(spark, work).collect())
    assert after == committed
