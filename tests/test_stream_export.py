"""Streaming shard export (streaming/export.py): the folded manifest
equals the batch manifest under any batch split, exported rows
round-trip losslessly into pruned shard dirs, and replays are
idempotent (driver-checked as q_stream_shard_manifest against the
batch oracle)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.functions.pipeline import shard_manifest
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.export import (
    read_export_manifest,
    read_exported_docs,
    run_stream_export_shards,
)
from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = "doc_id long, text string"


def _run(spark, tmp_path):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_export_shards(
        stream,
        spark,
        work_dir=str(tmp_path / "ex"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_shards=8,
    )
    return str(tmp_path / "ex")


def _feed(spark, sf_dir, tmp_path):
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    os.makedirs(tmp_path / "feed")
    stage_stream_file(
        docs.where(F.col("doc_id") % 3 != 0),
        tmp_path / "feed", "b0.parquet", 1_700_000_000,
    )
    stage_stream_file(
        docs.where(F.col("doc_id") % 3 == 0),
        tmp_path / "feed", "b1.parquet", 1_700_000_100,
    )
    return docs


def test_folded_manifest_equals_batch_manifest(spark, sf_dir, tmp_path):
    docs = _feed(spark, sf_dir, tmp_path)
    work = _run(spark, tmp_path)
    streamed = sorted(
        tuple(r) for r in read_export_manifest(spark, work).collect()
    )
    batch = sorted(
        tuple(r) for r in shard_manifest(docs, n_shards=8).collect()
    )
    assert streamed == batch


def test_exported_rows_round_trip_with_shard_pruning(spark, sf_dir, tmp_path):
    docs = _feed(spark, sf_dir, tmp_path)
    work = _run(spark, tmp_path)
    back = read_exported_docs(spark, work)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    # pruning holds per batch tree (_metadata is scan-level and does
    # not survive the union, so check the first batch dir directly)
    one = spark.read.parquet(os.path.join(work, "data", "b0")).where(
        F.col("shard") == 5
    )
    files = one.select(F.col("_metadata.file_path")).distinct().collect()
    assert files and all("shard=5" in r[0] for r in files)


def test_replay_is_idempotent(spark, sf_dir, tmp_path):
    _feed(spark, sf_dir, tmp_path)
    work = _run(spark, tmp_path)
    first_m = sorted(
        tuple(r) for r in read_export_manifest(spark, work).collect()
    )
    first_n = read_exported_docs(spark, work).count()
    shutil.rmtree(tmp_path / "ckpt")
    work = _run(spark, tmp_path)
    second_m = sorted(
        tuple(r) for r in read_export_manifest(spark, work).collect()
    )
    assert first_m == second_m
    assert read_exported_docs(spark, work).count() == first_n


def test_uncommitted_batch_dir_is_ignored(spark, sf_dir, tmp_path):
    """read_exported_docs must skip a b{N} data dir without Spark's
    _SUCCESS marker — a crash mid-write otherwise leaks partial rows
    into the unioned corpus."""
    _feed(spark, sf_dir, tmp_path)
    work = _run(spark, tmp_path)
    committed = read_exported_docs(spark, work)
    n_committed = committed.count()
    junk_dir = os.path.join(work, "data", "b99")
    committed.limit(3).write.partitionBy("shard").parquet(junk_dir)
    os.remove(os.path.join(junk_dir, "_SUCCESS"))
    assert read_exported_docs(spark, work).count() == n_committed


def test_compacted_stream_export_matches_manifest(spark, sf_dir, tmp_path):
    """Compacting the committed batch dirs is lossless: the per-bin
    manifest recomputed from the compacted FILES equals the streaming
    manifest rolled up through the plan (associative checksums across
    batch dirs and bins)."""
    from myasynstreamjoin_spark.functions.pipeline import (
        compacted_manifest,
    )
    from myasynstreamjoin_spark.streaming.export import compact_export

    docs = _feed(spark, sf_dir, tmp_path)
    work = _run(spark, tmp_path)
    dst = str(tmp_path / "compacted")
    plan = compact_export(spark, work, dst, budget_tokens=2048)
    assert plan is not None
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    got = sorted(
        (r["bin"], r["n_docs"], r["n_tokens"], r["checksum"])
        for r in compacted_manifest(spark, dst).collect()
    )
    want = sorted(
        tuple(r)
        for r in read_export_manifest(spark, work)
        .join(plan.select("shard", "bin"), "shard")
        .groupBy("bin")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("checksum").alias("checksum"),
        )
        .select("bin", "n_docs", "n_tokens", "checksum")
        .collect()
    )
    assert got == want
    assert len(got) > 1


def test_compact_export_none_when_nothing_committed(spark, tmp_path):
    from myasynstreamjoin_spark.streaming.export import compact_export

    assert (
        compact_export(
            spark, str(tmp_path / "missing"), str(tmp_path / "out")
        )
        is None
    )
