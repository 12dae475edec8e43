"""Streaming weighted reservoir: Efraimidis–Spirakis sampling over a
document stream — the k-row quality-weighted training sample is
maintained INCREMENTALLY as batches arrive, and equals the batch
sampler's answer under ANY batch split (not just ascending feeds).

That exactness is the algorithm's defining property: the selection
key ln(u)/w is a pure function of (row id, weight), so
``top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B))`` — an order-free,
idempotent merge. The reservoir is therefore just "union the batch's
candidates with the saved k rows, keep the top k", with none of the
first-seen-order caveats the line/span streams carry. This is why
`q_stream_weighted_sample` shares `q_weighted_sample`'s oracle with
an UNORDERED (hash) split.

State: one parquet version per batch, ≤ k rows each (schema = input
columns + the __wkey the merge orders by), with the pre-N-base replay
versioning of `streaming/commits.py`. At 100 TB the reservoir is k
rows — driver-tiny; the per-batch cost is the batch's own scan + a
k-row TakeOrderedAndProject, no corpus state at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    read_latest_version,
    read_replay_base,
)


def run_stream_weighted_sample(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    *,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> None:
    """Drain a (bounded, for tests) document stream; reservoir
    versions appear under ``{work_dir}/reservoir/v{N}``: version N =
    top-k of (old reservoir ∪ batch candidates) by the shared
    `wrs_key` — the same filter and tie-break as the batch sampler, so
    the final reservoir IS `weighted_sample_k`'s answer."""
    from myasynstreamjoin_spark.functions.pipeline import wrs_key

    state_dir = os.path.join(work_dir, "reservoir")
    w = F.col(weight_col)

    def process(batch_df: DataFrame, bid: int) -> Commit:
        cand = batch_df.where(
            (w > 0) & ~F.isnan(w.cast("double"))
        ).withColumn("__wkey", wrs_key(weight_col, id_col))
        old = read_replay_base(
            batch_df.sparkSession, state_dir, bid, cand.schema
        )
        merged = (
            old.unionByName(cand)
            .orderBy(F.desc("__wkey"), F.asc(id_col))
            .limit(k)
        )
        return Commit(state={state_dir: merged})

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_sample(spark: SparkSession, work_dir: str) -> DataFrame | None:
    """The current sample: the LATEST committed reservoir version,
    with the merge key dropped (schema = the sampled input rows)."""
    res = read_latest_version(spark, os.path.join(work_dir, "reservoir"))
    return None if res is None else res.drop("__wkey")
