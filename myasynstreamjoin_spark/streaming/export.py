"""Streaming training-corpus export: documents flow continuously into
hash-assigned shard directories with an incrementally maintained
verification manifest — the ingest-to-export tail of a pipeline that
never stops (the streaming twin of `functions/pipeline.py::
export_shards` / `shard_manifest`).

Per micro-batch (foreachBatch):
1. rows append as a per-batch OVERWRITE directory tree
   ``data/b{N}/shard=K/`` — replay rewrites b{N} in place, so
   redelivery never duplicates rows (the commit protocol of
   `streaming/commits.py`);
2. the manifest advances one version: ``manifest/v{N}`` = the replay
   base version (+) the batch's own `shard_manifest` delta. All three
   manifest statistics are ORDER-FREE integer sums (doc count, token
   count, md5_32-sum checksum), so versions compose associatively and
   the latest version equals the batch operator's manifest over
   everything ingested — WHATEVER the batch split. That algebraic
   fact is what lets `q_stream_shard_manifest` share
   `q_shard_manifest`'s DuckDB oracle verbatim.

Scale: the manifest is n_shards rows — versioning it is free; the
data tree is the same partitioned layout `export_shards` writes, so
shard reads prune identically. The within-shard pseudo-shuffle order
of the batch exporter is per-batch here (global order would require
rewriting shards per batch — continuous exports trade that away).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    committed_batch_dirs,
    drain_foreach_batch,
    read_latest_version,
    read_replay_base,
)


def run_stream_export_shards(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    n_shards: int = 16,
) -> None:
    """Drain a (bounded, for tests) document stream; data lands under
    ``{work_dir}/data/b{N}/shard=K``, manifest versions under
    ``{work_dir}/manifest/v{N}``."""
    from myasynstreamjoin_spark.functions.pipeline import shard_manifest
    from myasynstreamjoin_spark.operators.relational import hash_bucket

    data_dir = os.path.join(work_dir, "data")
    man_dir = os.path.join(work_dir, "manifest")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        # batch_scope at batch grain (blocks.py rule)
        batch = batch_df.localCheckpoint(eager=True)
        sharded = batch.withColumn(
            "shard", hash_bucket(F.col("doc_id").cast("string"), n_shards)
        )
        delta = shard_manifest(batch, n_shards=n_shards)
        base = read_replay_base(
            batch_df.sparkSession, man_dir, bid, delta.schema
        )
        merged = (
            base.unionByName(delta)
            .groupBy("shard")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("checksum").alias("checksum"),
            )
        )
        return Commit(
            outputs={data_dir: sharded},
            state={man_dir: merged},
            partition_by={data_dir: ("shard",)},
        )

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_export_manifest(
    spark: SparkSession, work_dir: str
) -> DataFrame | None:
    """The latest committed manifest version."""
    return read_latest_version(spark, os.path.join(work_dir, "manifest"))


def read_exported_docs(spark: SparkSession, work_dir: str) -> DataFrame | None:
    dirs = committed_batch_dirs(os.path.join(work_dir, "data"))
    if not dirs:
        return None
    # one read per batch dir, unioned: a multi-root read would refuse
    # to mix the non-partition b{N} level with the shard=K partition
    # dirs (CONFLICTING_DIRECTORY_STRUCTURES); per-root reads discover
    # the shard column independently and union cleanly.
    out = spark.read.parquet(dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(spark.read.parquet(d))
    return out


def compact_export(
    spark: SparkSession,
    work_dir: str,
    dst_path: str,
    budget_tokens: int = 1 << 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame | None:
    """Fold the COMMITTED ``b{N}`` batch dirs of a streaming export
    into budget-bounded compacted bins — the maintenance pass a
    continuous export needs most: every micro-batch writes up to
    ``n_shards`` small files, so a day of one-minute batches is
    1440 × n_shards objects, and the name-node/object-store pays for
    each one. Committed batches only (the ``_SUCCESS`` rule
    `read_exported_docs` enforces), so a crash mid-batch never leaks
    partial rows into the compacted tree.

    Same plan as the batch op (`functions/pipeline.py::compact_shards`
    via the shared `_compact_frame`): per-shard totals recomputed from
    the files, an n_shards-row broadcast plan, ONE hash exchange to
    rewrite. `compacted_manifest(dst)` rolled up against
    `read_export_manifest` through the plan proves the fold lossless —
    the manifest's order-free integer sums are associative across both
    batch dirs AND bins (asserted in tests/test_stream_export.py).

    Returns the (shard, n_tokens, bin) plan, or None when nothing is
    committed yet.
    """
    from myasynstreamjoin_spark.functions.pipeline import _compact_frame

    docs = read_exported_docs(spark, work_dir)
    if docs is None:
        return None
    return _compact_frame(
        docs, dst_path, budget_tokens, text_col, id_col, "overwrite"
    )
