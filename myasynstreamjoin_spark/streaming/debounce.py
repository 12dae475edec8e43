"""Streaming leading-edge debounce: the burst chain continues across
micro-batch boundaries. State is ONE row per (user, event_type) — the
key's last RAW event timestamp — because that is all the leading-edge
contract needs: a new batch's first event either continues the open
burst (gap < min_gap from the last raw arrival, so it was already
represented by an emitted head and must be dropped) or starts a new
burst (kept).

The per-batch kernel reuses the BATCH operator verbatim by seeding it:
each state row enters the batch as a pseudo-event ordered before every
real one (its own ts), flagged non-emittable. The lag+cumsum chain then
treats cross-boundary continuation exactly like intra-batch
continuation — a real event whose burst head is the pseudo-row is
correctly suppressed, because the head that WAS emitted lives in an
earlier batch. Under ascending event-time feeds the per-batch sinks
union to EXACTLY the batch `debounce_events` answer, which is how
`q_stream_debounce` shares `q_debounce`'s oracle.

State versioning is the pre-N-base replay rule of
`streaming/commits.py`; at 100 TB the state is |active keys| narrow
rows and each batch pays one exchange on the key — the same shape as
the batch op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

# event-grain per-batch checkpoints follow the corpus-grain rule
# (DISK_ONLY — see myasynstreamjoin_spark/blocks.py): bounded replays
# deliver half the corpus per "batch", so these are corpus-grain, not
# trigger-sized. The batch scope of drain_foreach_batch releases them.
from myasynstreamjoin_spark.blocks import ckpt_disk

from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    read_committed_batches,
    read_replay_base,
)


def run_stream_debounce(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    min_gap_us: int = 3_600_000_000,
) -> None:
    """Drain a (bounded, for tests) event stream; surviving events
    (batch-operator schema) appear under ``{work_dir}/kept/b{N}``, the
    per-key last-raw-ts state under ``{work_dir}/state/v{N}``."""
    from myasynstreamjoin_spark.operators.sessions import debounce_events

    kept_dir = os.path.join(work_dir, "kept")
    state_dir = os.path.join(work_dir, "state")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        state = read_replay_base(
            batch_df.sparkSession, state_dir, bid,
            "user_id long, event_type string, last_ts_us long",
        )

        # seed rows: pseudo-events at the key's last raw arrival, with
        # an event_id below every real id so ties at the same ts order
        # the seed first; ts column carries epoch-ns like the real feed
        seeds = state.select(
            (F.col("last_ts_us") * 1000).alias("ts"),
            "user_id",
            "event_type",
            F.lit(-1).cast("long").alias("event_id"),
        )
        real = batch_df.select("ts", "user_id", "event_type", "event_id")
        kept = (
            debounce_events(seeds.unionByName(real), min_gap_us)
            .where(F.col("event_id") >= 0)
            .transform(ckpt_disk)
        )

        new_state = (
            real.select(
                "user_id", "event_type", F.expr("ts DIV 1000").alias("ts_us")
            )
            .groupBy("user_id", "event_type")
            .agg(F.max("ts_us").alias("last_ts_us"))
        )
        merged_state = (
            state.unionByName(
                new_state.select("user_id", "event_type", "last_ts_us")
            )
            .groupBy("user_id", "event_type")
            .agg(F.max("last_ts_us").alias("last_ts_us"))
        )
        return Commit(
            outputs={kept_dir: kept}, state={state_dir: merged_state}
        )

    drain_foreach_batch(docs, process, checkpoint_dir)


def read_kept_events(spark: SparkSession, work_dir: str) -> DataFrame | None:
    """Union of the COMMITTED (_SUCCESS) per-batch survivor sinks."""
    return read_committed_batches(spark, os.path.join(work_dir, "kept"))


def run_stream_throttle(
    docs: DataFrame,
    spark: SparkSession,
    work_dir: str,
    checkpoint_dir: str | None = None,
    window_us: int = 3_600_000_000,
) -> None:
    """Streaming fixed-clock throttle: state is one (user, event_type,
    last_bucket) row per key — under ascending event-time feeds only
    the LATEST bucket can span a batch boundary, so dropping batch
    survivors whose bucket equals the state bucket makes the streamed
    survivors exactly the batch `throttle_events` answer. Same layout
    as ``run_stream_debounce``."""
    from myasynstreamjoin_spark.operators.sessions import throttle_events

    kept_dir = os.path.join(work_dir, "kept")
    state_dir = os.path.join(work_dir, "state")

    def process(batch_df: DataFrame, bid: int) -> Commit:
        state = read_replay_base(
            batch_df.sparkSession, state_dir, bid,
            "user_id long, event_type string, last_bucket long",
        )

        survivors = throttle_events(batch_df, window_us)
        kept = (
            survivors.join(
                state.withColumnRenamed("last_bucket", "bucket"),
                ["user_id", "event_type", "bucket"],
                "left_anti",
            )
            # the list-form join moves its keys to the front; re-project
            # the batch operator's column order so the per-batch sinks
            # union schema-identically with it
            .select(*survivors.columns)
            .transform(ckpt_disk)
        )

        new_state = (
            batch_df.select(
                "user_id",
                "event_type",
                F.expr(f"(ts DIV 1000) DIV {int(window_us)}").alias(
                    "last_bucket"
                ),
            )
            .groupBy("user_id", "event_type")
            .agg(F.max("last_bucket").alias("last_bucket"))
        )
        merged_state = (
            state.unionByName(new_state)
            .groupBy("user_id", "event_type")
            .agg(F.max("last_bucket").alias("last_bucket"))
        )
        return Commit(
            outputs={kept_dir: kept}, state={state_dir: merged_state}
        )

    drain_foreach_batch(docs, process, checkpoint_dir)
