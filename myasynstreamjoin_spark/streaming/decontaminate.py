"""Streaming benchmark decontamination: a document stream filtered
against a STATIC held-out/benchmark gram set before anything downstream
sees it — the ingest-time twin of the batch decontamination gate
(functions/dedup.py::bloom_decontaminate / contamination_pairs), for
pipelines where documents arrive continuously and contaminated ones
must never be persisted at all.

Per micro-batch (foreachBatch, so plain batch semantics apply inside):
shingle the batch into word 8-grams, semi-join against the broadcast
bench gram set (computed ONCE, driver-held by reference through the
closure, checkpointed so micro-batches don't recompute it), and append
the clean doc ids to a per-batch overwrite sink — replay-idempotent
under the commit protocol of streaming/commits.py. The union over batches equals the batch
operator's answer by construction: decontamination against a static
set is embarrassingly batch-parallel (no cross-batch state at all,
unlike near-dup's accumulated index).

Scale: the bench gram table is benchmark-corpus-sized (tiny next to
the stream); broadcast it. String grams are kept (not hashed) so the
result is bit-equal to the string-gram oracle — at 100 TB switch both
sides to the Bloom-prefiltered form (functions/dedup.py) and keep this
exact join as the verification tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.blocks import static_checkpoint
from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    read_committed_batches,
)


def run_stream_decontaminate(
    docs: DataFrame,
    spark: SparkSession,
    bench_docs: DataFrame,
    work_dir: str,
    checkpoint_dir: str | None = None,
    k: int = 8,
) -> None:
    """Drain a (bounded, for tests) training-document stream; clean doc
    ids appear under ``{work_dir}/clean/b{N}``."""
    from myasynstreamjoin_spark.functions.dedup import shingle_docs

    clean_dir = os.path.join(work_dir, "clean")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        # batch_scope (blocks.py): the batch's checkpoint blocks are
        # released at scope exit, serialized against any concurrent
        # scope on this context; the static bench_grams checkpoint
        # predates the snapshot and is untouched
        batch = batch_df.localCheckpoint(eager=True)
        grams = shingle_docs(batch, k).select(
            "doc_id", F.explode_outer("sh").alias("g")
        )
        dirty = (
            grams.join(F.broadcast(bench_grams), "g", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = batch.select("doc_id").join(dirty, "doc_id", "left_anti")
        return Commit(outputs={clean_dir: clean})

    with static_checkpoint(
        shingle_docs(bench_docs, k)
        .select(F.explode_outer("sh").alias("g"))
        .distinct()
    ) as bench_grams:
        drain_foreach_batch(docs, process, checkpoint_dir)


def read_clean_ids(spark: SparkSession, work_dir: str) -> DataFrame | None:
    return read_committed_batches(spark, os.path.join(work_dir, "clean"))


def run_stream_semantic_decontaminate(
    vecs: DataFrame,
    spark: SparkSession,
    bench_vecs: DataFrame,
    work_dir: str,
    checkpoint_dir: str | None = None,
    threshold: float = 0.4,
) -> None:
    """Ingest-time SEMANTIC decontamination: the streaming twin of
    `functions/similarity.py::semantic_decontaminate`, exactly as this
    module's gram gate twins the exact n-gram one. The static benchmark
    embeddings are collected to a driver-side float64 matrix ONCE,
    outside the batch closure (round-9 advice: the arrow kernel default
    was silently re-collecting them every micro-batch), and per batch
    ship in the Arrow kernel's UDF closure — holdout-suite-sized, an
    ordinary broadcast. The kernel is pinned ``"arrow"`` explicitly so
    a future default flip can't change this runner's plan. Per batch
    the matrix scores the batch's vectors; per-vector (max_cos, n_hits)
    rows land
    under ``{work_dir}/scored/b{N}`` via per-batch overwrite —
    replay-idempotent, no cross-batch state (a static benchmark makes
    the op embarrassingly batch-parallel), so the union over committed
    batches equals the batch operator's answer row-for-row
    (asserted in tests/test_stream_dedup.py beside the exact twin's
    replay test)."""
    from myasynstreamjoin_spark.functions.similarity import (
        collect_benchmark_matrix,
        semantic_decontaminate,
    )

    scored_dir = os.path.join(work_dir, "scored")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        batch = batch_df.localCheckpoint(eager=True)
        out = semantic_decontaminate(
            batch, bench, threshold=threshold,
            kernel="arrow", bench_matrix=bench_matrix,
        )
        return Commit(outputs={scored_dir: out})

    with static_checkpoint(bench_vecs) as bench:
        bench_matrix = collect_benchmark_matrix(bench)
        drain_foreach_batch(vecs, process, checkpoint_dir)


def read_scored_vecs(spark: SparkSession, work_dir: str) -> DataFrame | None:
    return read_committed_batches(spark, os.path.join(work_dir, "scored"))
