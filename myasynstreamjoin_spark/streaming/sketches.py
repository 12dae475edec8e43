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


def update_batch_quantile_sketches(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    group_col: str = "event_type",
    value_col: str = "value",
    k: int = 200,
):
    """Merge one micro-batch into the per-group KLL state at
    ``{state_dir}/v{N}``. Returns ``commit_state()``; call it after
    every other sink commits."""
    bid = int(batch_id)
    bspark = batch_df.sparkSession
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
    old = read_replay_base(bspark, state_dir, bid, fresh.schema)
    merged = (
        old.unionByName(fresh)
        .groupBy("grp")
        .agg(
            F.collect_list("sketch").alias("__arr"),
            F.sum("n").cast("long").alias("n"),
        )
        .select("grp", _merge_kll(F.col("__arr")).alias("sketch"), "n")
    )

    def commit_state() -> None:
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{bid}")
        )

    return commit_state


def run_stream_quantile_sketches(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
    k: int = 200,
) -> None:
    """Drain a (bounded, for tests) stream; KLL state versions appear
    under ``{work_dir}/kll/v{N}``."""
    state_dir = os.path.join(work_dir, "kll")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        update_batch_quantile_sketches(
            batch_df, state_dir, int(batch_id), group_col, value_col, k
        )()

    drain_foreach_batch(docs, checkpoint_dir, process)


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


def update_batch_theta_sketches(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
):
    """Merge one micro-batch into the per-group Theta state (Theta has
    a real union aggregate, so the merge is one groupBy)."""
    bid = int(batch_id)
    bspark = batch_df.sparkSession
    fresh = (
        batch_df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.theta_sketch_agg(
                F.col(value_col).cast("string"), F.lit(lg_k)
            ).alias("sketch")
        )
    )
    old = read_replay_base(bspark, state_dir, bid, fresh.schema)
    merged = (
        old.unionByName(fresh)
        .groupBy("grp")
        .agg(F.theta_union_agg("sketch").alias("sketch"))
    )

    def commit_state() -> None:
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{bid}")
        )

    return commit_state


def run_stream_theta_sketches(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
) -> None:
    state_dir = os.path.join(work_dir, "theta")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        update_batch_theta_sketches(
            batch_df, state_dir, int(batch_id), group_col, value_col, lg_k
        )()

    drain_foreach_batch(docs, checkpoint_dir, process)


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


def update_batch_hll_sketches(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
):
    """Merge one micro-batch into per-group HLL distinct-count state —
    the third accumulator, completing the trio (quantiles, set
    algebra, pure distinct counts; HLL is the cheapest when only
    unions are ever needed)."""
    bid = int(batch_id)
    bspark = batch_df.sparkSession
    fresh = (
        batch_df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.hll_sketch_agg(
                F.col(value_col).cast("string"), F.lit(lg_k)
            ).alias("sketch")
        )
    )
    old = read_replay_base(bspark, state_dir, bid, fresh.schema)
    merged = (
        old.unionByName(fresh)
        .groupBy("grp")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )

    def commit_state() -> None:
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{bid}")
        )

    return commit_state


def run_stream_hll_sketches(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    lg_k: int = 12,
) -> None:
    state_dir = os.path.join(work_dir, "hll")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        update_batch_hll_sketches(
            batch_df, state_dir, int(batch_id), group_col, value_col, lg_k
        )()

    drain_foreach_batch(docs, checkpoint_dir, process)


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
