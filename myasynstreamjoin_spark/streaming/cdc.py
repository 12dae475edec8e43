"""Streaming CDC: apply a change-feed STREAM to a versioned parquet
snapshot — the continuous ``MERGE INTO`` a lakehouse runs to keep a
mutable table current from an append-only log (the streaming completion
of :mod:`myasynstreamjoin_spark.operators.cdc`).

Snapshot layout: ``{snapshot_dir}/v{batch_id}`` per applied micro-batch;
the live table is the highest version. Each ``foreachBatch`` merges the
batch into the newest version below its own batch id (the pre-N-base
rule of ``streaming/commits.py``), so a batch re-delivered after a crash
overwrites ``v{N}`` with the identical result (exactly-once snapshots on
top of at-least-once batch delivery).

Ordering semantics: the change LOG's arrival order is the order of
authority across batches (standard for CDC feeds); ``order_cols``
resolve races only WITHIN a batch (via ``cdc_apply``'s max_by). A feed
that can deliver out of order across batches needs a monotone version
column and MERGE-time conflict checks instead.

Scale shape: per batch, the base side is a plain parquet scan that
never shuffles (``cdc_apply`` broadcasts the batch's touched keys into
a left-anti join) and the output rewrite is the same full-copy a
naive lakehouse does — at 100 TB, partition the snapshot by a key
range and rewrite only partitions the batch touches (the optimization
is orthogonal to the merge semantics tested here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from myasynstreamjoin_spark.operators.cdc import cdc_apply
from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    read_latest_version,
    read_replay_base,
)


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The live table: the highest committed version, or None."""
    return read_latest_version(spark, snapshot_dir)


def run_cdc_stream(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str | None = None,
    *,
    keys: tuple[str, ...],
    order_cols: tuple[str, ...],
    op_col: str = "op",
) -> None:
    """Drain a (bounded, for tests) change stream into the snapshot.

    ``changes`` is a streaming DataFrame carrying the snapshot's data
    columns plus ``op_col`` and ``order_cols``. Each micro-batch is
    merged with ``cdc_apply`` and committed as the next version; keep
    at most two with ``commits.vacuum_versions``.
    """
    data_cols = [
        c for c in changes.columns if c != op_col and c not in order_cols
    ]

    def apply_batch(batch_df: DataFrame, bid: int) -> Commit:
        base = read_replay_base(
            batch_df.sparkSession, snapshot_dir, bid,
            batch_df.select(*data_cols).schema,
        )
        merged = cdc_apply(
            base, batch_df, keys=keys, order_cols=order_cols, op_col=op_col
        )
        return Commit(state={snapshot_dir: merged})

    drain_foreach_batch(changes, apply_batch, checkpoint_dir)
