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

import os

from pyspark.sql import DataFrame, SparkSession

from myasynstreamjoin_spark.operators.cdc import cdc_apply
from myasynstreamjoin_spark.streaming.commits import (
    drain_foreach_batch,
    is_committed,
    read_latest_version,
    read_replay_base,
    version_dirs,
)


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The live table: the highest committed version, or None."""
    return read_latest_version(spark, snapshot_dir)


def run_cdc_stream(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...],
    order_cols: tuple[str, ...],
    op_col: str = "op",
) -> None:
    """Drain a (bounded, for tests) change stream into the snapshot.

    ``changes`` is a streaming DataFrame carrying the snapshot's data
    columns plus ``op_col`` and ``order_cols``. Each micro-batch is
    merged with ``cdc_apply`` and written as the next version.
    """
    data_cols = [
        c for c in changes.columns if c != op_col and c not in order_cols
    ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        base = read_replay_base(
            batch_df.sparkSession, snapshot_dir, batch_id,
            batch_df.select(*data_cols).schema,
        )
        merged = cdc_apply(
            base, batch_df, keys=keys, order_cols=order_cols, op_col=op_col
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v{int(batch_id)}")
        )

    drain_foreach_batch(changes, checkpoint_dir, apply_batch)


def vacuum_snapshots(snapshot_dir: str, keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` committed snapshot versions
    (the VACUUM every versioned table needs, or storage grows one full
    copy per micro-batch). Never touches the live version; uncommitted
    directories (no ``_SUCCESS``) are removed too — they are failed
    writes a later replay has superseded.

    ``keep`` must be ≥ 2 while the stream can still replay: the
    replay-idempotency contract re-merges a redelivered batch against
    the version BELOW it — vacuuming that base away would make the
    replay rebuild from an empty table and silently drop the rest of
    the snapshot. Only a cleanly-stopped table (checkpoint committed
    past the last batch) could safely keep 1; this API refuses the
    footgun outright.

    Returns the version numbers removed.
    """
    import shutil

    if keep < 2:
        raise ValueError(
            "keep must be >= 2: the newest version's replay base must "
            "survive vacuum (see run_cdc_stream's idempotency contract)"
        )
    dirs = version_dirs(snapshot_dir)
    live = [d for d in dirs if is_committed(d[1])][-keep:]
    removed = []
    for v, path in dirs:
        if (v, path) not in live:
            shutil.rmtree(path)
            removed.append(v)
    return removed
