"""Streaming perceptual image near-dup (streaming/imagedup.py): the
union of per-batch pairs equals the batch operator's pair set under
any batch split (banded candidates are lossless within the radius, so
arrival order cannot lose a pair), replays don't duplicate, and only
committed pair sinks are read."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from myasynstreamjoin_spark.functions.multimodal import (
    image_neardup_pairs,
    synthetic_media,
)
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.imagedup import (
    read_image_neardup_pairs,
    run_stream_image_neardup,
)
from myasynstreamjoin_spark.streaming.windowed import stage_stream_file

SCHEMA = (
    "media_id long, media_type string, content binary, "
    "meta struct<mime:string,n_bytes:long>"
)


def _media(spark, sf_dir):
    docs = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    return synthetic_media(docs)


def _run(spark, tmp_path, max_dist=3):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    run_stream_image_neardup(
        stream,
        spark,
        work_dir=str(tmp_path / "im"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_dist=max_dist,
    )
    return str(tmp_path / "im")


def test_stream_pairs_equal_batch_operator(spark, sf_dir, tmp_path):
    media = _media(spark, sf_dir)
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        media.where(F.col("media_id") % 2 == 0), feed, "f0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        media.where(F.col("media_id") % 2 == 1), feed, "f1.parquet",
        1_700_000_100,
    )
    work = _run(spark, tmp_path)
    streamed = {
        (r["a"], r["b"], r["hamming"])
        for r in read_image_neardup_pairs(spark, work).collect()
    }
    batch = {
        (r["a"], r["b"], r["hamming"])
        for r in image_neardup_pairs(media, max_dist=3).collect()
    }
    assert streamed == batch
    assert batch  # the corpus actually contains near-dup images


def test_replay_is_idempotent(spark, sf_dir, tmp_path):
    media = _media(spark, sf_dir).where(F.col("media_id") < 120)
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(
        media.where(F.col("media_id") % 2 == 0), feed, "f0.parquet",
        1_700_000_000,
    )
    stage_stream_file(
        media.where(F.col("media_id") % 2 == 1), feed, "f1.parquet",
        1_700_000_100,
    )
    work = _run(spark, tmp_path)
    first = sorted(
        tuple(r) for r in read_image_neardup_pairs(spark, work).collect()
    )
    # wipe the checkpoint: the stream replays every batch from scratch
    shutil.rmtree(str(tmp_path / "ckpt"))
    _run(spark, tmp_path)
    second = sorted(
        tuple(r) for r in read_image_neardup_pairs(spark, work).collect()
    )
    assert first == second


def test_uncommitted_pair_dir_is_ignored(spark, sf_dir, tmp_path):
    media = _media(spark, sf_dir).where(F.col("media_id") < 60)
    feed = tmp_path / "feed"
    feed.mkdir()
    stage_stream_file(media, feed, "f0.parquet", 1_700_000_000)
    work = _run(spark, tmp_path)
    committed = read_image_neardup_pairs(spark, work).count()
    # simulate a crash mid-write: a b-dir without _SUCCESS
    bad = os.path.join(work, "pairs", "b99")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert read_image_neardup_pairs(spark, work).count() == committed
