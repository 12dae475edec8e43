"""Streaming sketch accumulators: the mergeable-sketch bank (KLL
quantiles, Theta distinct sets) maintained INCREMENTALLY over a
document/event stream. Like the weighted reservoir, these merges are
ORDER-FREE — sketch union is associative and commutative — so the
accumulated state answers exactly what a batch sketch over all rows
seen so far would, under ANY batch split: no ascending-feed caveat.

State per group is ONE row (sketch binary + row count), versioned with
the pre-N-base replay rule of ``streaming/commits.py``; at any corpus
size the state is |groups| KB-sized rows — driver-tiny — and each
micro-batch costs its own scan plus a |groups|-row merge.

Theta state additionally stays EXACT below the sketch threshold, so
the streamed audience algebra equals the batch operator's answer
integer-for-integer at test scales (pinned in
tests/test_stream_sketches.py).
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


def _merge_kll(sketches_col):
    """Fold a collected array of KLL sketches with the binary merge
    (no KLL union aggregate exists — same fold as the batch rollup)."""
    return F.aggregate(
        F.slice(sketches_col, 2, F.greatest(F.size(sketches_col) - 1, F.lit(0))),
        F.element_at(sketches_col, 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )


def run_stream_quantile_sketches(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    group_col: str = "event_type",
    value_col: str = "value",
    k: int = 200,
) -> None:
    """Drain a (bounded, for tests) stream, merging each micro-batch
    into the per-group KLL state; versions appear under
    ``{work_dir}/kll/v{N}``."""
    state_dir = os.path.join(work_dir, "kll")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        fresh = (
            batch_df.where(F.col(value_col).isNotNull())
            .groupBy(F.col(group_col).alias("grp"))
            .agg(
                F.kll_sketch_agg_double(
                    F.col(value_col).cast("double"), F.lit(k)
                ).alias("sketch"),
                F.count("*").cast("long").alias("n"),
            )
        )
        old = read_replay_base(
            batch_df.sparkSession, state_dir, bid, fresh.schema
        )
        merged = (
            old.unionByName(fresh)
            .groupBy("grp")
            .agg(
                F.collect_list("sketch").alias("__arr"),
                F.sum("n").cast("long").alias("n"),
            )
            .select("grp", _merge_kll(F.col("__arr")).alias("sketch"), "n")
        )
        return Commit(state={state_dir: merged})

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_quantile_estimates(
    spark: SparkSession,
    work_dir: str,
    quantiles: tuple[float, ...] = (0.1, 0.5, 0.9),
) -> DataFrame | None:
    """Per-group quantile estimates from the LATEST committed KLL
    state — the any-time answer the accumulated bank exists for."""
    st = read_latest_version(spark, os.path.join(work_dir, "kll"))
    if st is None:
        return None
    cols = [
        F.kll_sketch_get_quantile_double(F.col("sketch"), F.lit(q)).alias(
            f"est_q{int(q * 100)}"
        )
        for q in quantiles
    ]
    return st.select("grp", F.col("n").alias("n_total"), *cols)


def _run_union_sketches(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str | None,
    group_col: str,
    value_col: str,
    agg,
    union_agg,
) -> None:
    """Drain a stream, merging each micro-batch into per-group state
    of a sketch with a union aggregate (Theta, HLL): one groupBy."""

    def process(batch_df: DataFrame, bid: int) -> Commit:
        fresh = (
            batch_df.where(F.col(value_col).isNotNull())
            .groupBy(F.col(group_col).alias("grp"))
            .agg(agg(F.col(value_col).cast("string")).alias("sketch"))
        )
        old = read_replay_base(
            batch_df.sparkSession, state_dir, bid, fresh.schema
        )
        merged = (
            old.unionByName(fresh)
            .groupBy("grp")
            .agg(union_agg("sketch").alias("sketch"))
        )
        return Commit(state={state_dir: merged})

    drain_foreach_batch(docs, process, checkpoint_dir)


def run_stream_theta_sketches(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
) -> None:
    """Per-group Theta distinct-set state under ``{work_dir}/theta/v{N}``."""
    _run_union_sketches(
        docs, os.path.join(work_dir, "theta"), checkpoint_dir,
        group_col, value_col,
        lambda c: F.theta_sketch_agg(c, F.lit(lg_k)), F.theta_union_agg,
    )


def read_theta_algebra(
    spark: SparkSession,
    work_dir: str,
    pairs: list[tuple[str, str]],
) -> DataFrame | None:
    """Audience set algebra from the LATEST committed Theta state —
    the same output shape as the batch `audience_set_algebra`."""
    sk = read_latest_version(spark, os.path.join(work_dir, "theta"))
    if sk is None:
        return None
    a = sk.select(F.col("grp").alias("a"), F.col("sketch").alias("__sa"))
    b = sk.select(F.col("grp").alias("b"), F.col("sketch").alias("__sb"))
    want = spark.createDataFrame(pairs, "a string, b string")
    return (
        want.join(F.broadcast(a), "a")
        .join(F.broadcast(b), "b")
        .select(
            "a",
            "b",
            F.theta_sketch_estimate("__sa").cast("long").alias("est_a"),
            F.theta_sketch_estimate("__sb").cast("long").alias("est_b"),
            F.theta_sketch_estimate(
                F.theta_union(F.col("__sa"), F.col("__sb"))
            ).cast("long").alias("est_union"),
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("__sa"), F.col("__sb"))
            ).cast("long").alias("est_intersection"),
            F.theta_sketch_estimate(
                F.theta_difference(F.col("__sa"), F.col("__sb"))
            ).cast("long").alias("est_a_minus_b"),
        )
    )


def run_stream_hll_sketches(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
) -> None:
    """Per-group HLL distinct-count state under ``{work_dir}/hll/v{N}``
    — the third accumulator, completing the trio (quantiles, set
    algebra, pure distinct counts; HLL is the cheapest when only
    unions are ever needed)."""
    _run_union_sketches(
        docs, os.path.join(work_dir, "hll"), checkpoint_dir,
        group_col, value_col,
        lambda c: F.hll_sketch_agg(c, F.lit(lg_k)), F.hll_union_agg,
    )


def read_distinct_estimates(
    spark: SparkSession, work_dir: str
) -> DataFrame | None:
    """Per-group distinct-count estimates from the LATEST committed
    HLL state."""
    st = read_latest_version(spark, os.path.join(work_dir, "hll"))
    if st is None:
        return None
    return st.select(
        "grp",
        F.hll_sketch_estimate("sketch").cast("long").alias("est_distinct"),
    )
