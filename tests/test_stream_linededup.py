"""Streaming line dedup (streaming/linededup.py): with ascending
doc_id batches the union of per-batch cleaned docs equals the batch
operator's output; cross-batch suppression drops ALL later
occurrences of an indexed line; replays against the versioned index
are idempotent; uncommitted batch dirs are skipped on read."""

from __future__ import annotations

import os
import shutil

from myasynstreamjoin_spark.functions.lines import line_dedup
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.linededup import (
    read_clean_docs,
    run_stream_line_dedup,
)

from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "doc_id long, text string"
W = 3


def _run(spark, tmp_path, width=W):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_line_dedup(
        stream,
        spark,
        work_dir=str(tmp_path / "ld"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        width=width,
    )
    return str(tmp_path / "ld")


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
    work = _run(spark, tmp_path, width=12)
    streamed = sorted(
        tuple(r) for r in read_clean_docs(spark, work).collect()
    )
    batch = sorted(tuple(r) for r in line_dedup(docs, width=12).collect())
    assert streamed == batch


def test_cross_batch_suppression_and_within_batch_election(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame([(0, "a b c d e f")], SCHEMA)
    # doc 5 repeats indexed line 'a b c' (dropped), doc 6 and 7 share a
    # NEW line — within-batch election keeps doc 6's occurrence
    b1 = spark.createDataFrame(
        [
            (5, "a b c x y z"),
            (6, "p q r s t u"),
            (7, "p q r 1 2 3"),
        ],
        SCHEMA,
    )
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    stage_stream_file(b1, tmp_path / "feed", "b1.parquet", 1_700_000_100)
    work = _run(spark, tmp_path)
    out = {
        r["doc_id"]: (r["n_lines"], r["n_removed"], r["text_clean"])
        for r in read_clean_docs(spark, work).collect()
    }
    assert out[0] == (2, 0, "a b c d e f")
    assert out[5] == (2, 1, "x y z")
    assert out[6] == (2, 0, "p q r s t u")
    assert out[7] == (2, 1, "1 2 3")


def test_replay_is_idempotent(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame([(0, "a b c d e f")], SCHEMA)
    b1 = spark.createDataFrame([(5, "a b c x y z")], SCHEMA)
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    stage_stream_file(b1, tmp_path / "feed", "b1.parquet", 1_700_000_100)
    work = _run(spark, tmp_path)
    first = sorted(tuple(r) for r in read_clean_docs(spark, work).collect())
    shutil.rmtree(tmp_path / "ckpt")
    work = _run(spark, tmp_path)
    second = sorted(tuple(r) for r in read_clean_docs(spark, work).collect())
    assert first == second


def test_uncommitted_batch_dir_is_ignored(spark, tmp_path):
    os.makedirs(tmp_path / "feed")
    b0 = spark.createDataFrame([(1, "a b c d e f")], SCHEMA)
    stage_stream_file(b0, tmp_path / "feed", "b0.parquet", 1_700_000_000)
    work = _run(spark, tmp_path)
    committed = sorted(
        tuple(r) for r in read_clean_docs(spark, work).collect()
    )
    junk_dir = os.path.join(work, "clean", "b99")
    b0.write.parquet(junk_dir)
    os.remove(os.path.join(junk_dir, "_SUCCESS"))
    after = sorted(tuple(r) for r in read_clean_docs(spark, work).collect())
    assert after == committed
