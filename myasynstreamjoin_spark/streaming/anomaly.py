"""Streaming anomaly monitor: flag events that deviate > k·σ from the
RUNNING per-group statistics accumulated over all prior micro-batches
— the live counterpart of ``operators.stats.zscore_outliers`` (same
exact-integer flag rule), and the third member of the engine's
foreachBatch control-loop family (cost-model feedback, quality
expectations, now anomaly detection).

Semantics: batch N's rows are judged against the statistics of batches
0..N−1 ONLY (a spike must not soften its own baseline — and the flag
decision for a row never depends on later rows). Groups seen fewer
than ``min_count`` times are never flagged (cold start).

Replay safety (foreachBatch is at-least-once): flagged rows write to a
PER-BATCH directory ``{out}/b{N}`` in overwrite mode, so a redelivered
batch replaces its own output instead of appending duplicates; the
per-group totals are snapshotted to ``{state}/s{N}.json`` after each
batch (atomic tmp+rename) and a replayed batch N reloads the newest
snapshot BELOW N — the pre-N-base rule of ``streaming/commits.py``.
A restarted monitor therefore resumes its baselines instead of
cold-starting.

Bounded state, unbounded stream: one (n, Σx, Σx²) integer triple per
group — O(#groups) in memory and per snapshot; flagged rows live in
the sink, never in the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    load_snapshot_below,
    read_committed_batches,
)


def read_flagged(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """All flagged rows across committed batches, or None if nothing
    flagged."""
    return read_committed_batches(spark, out_dir)


def run_streaming_anomalies(
    events: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
    state_dir: str | None = None,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 3,
    unit: int = 1000,
    min_count: int = 10,
) -> dict[str, tuple[int, int, int]]:
    """Drain a (bounded, for tests) event stream; write flagged rows
    under ``out_dir`` (one subdir per batch). Returns the final
    per-group totals.
    """
    sdir = state_dir or (out_dir.rstrip("/") + "_state")
    totals: dict[str, tuple[int, int, int]] = {}
    last_applied: list[int] = [-1]

    def process(batch_df: DataFrame, bid: int) -> Commit:
        if last_applied[0] != bid - 1:
            # first batch of this incarnation, or a replay: resume the
            # baselines from the newest snapshot BELOW this batch
            totals.clear()
            snap = load_snapshot_below(sdir, bid) or {}
            totals.update({g: tuple(t) for g, t in snap.items()})
        bspark = batch_df.sparkSession
        xq = F.round(F.col(value_col) * F.lit(unit)).cast("decimal(38,0)")
        batch = batch_df.select(group_col, id_col, value_col, xq.alias("__x"))
        # 1) flag against PRIOR stats (broadcast |groups| rows)
        prior = [
            (g, str(n), str(s), str(ss))
            for g, (n, s, ss) in totals.items()
            if n >= min_count
        ]
        outputs = {}
        if prior:
            st = bspark.createDataFrame(
                prior, f"{group_col} string, n string, s string, ss string"
            ).select(
                group_col,
                F.col("n").cast("decimal(38,0)").alias("__n"),
                F.col("s").cast("decimal(38,0)").alias("__s"),
                F.col("ss").cast("decimal(38,0)").alias("__ss"),
            )
            nx_s = F.col("__n") * F.col("__x") - F.col("__s")
            var_n2 = F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
            # per-batch overwrite → replays replace, never duplicate
            outputs[out_dir] = (
                batch.join(F.broadcast(st), group_col)
                .where(
                    nx_s * nx_s > F.lit(k * k).cast("decimal(38,0)") * var_n2
                )
                .select(
                    group_col,
                    id_col,
                    value_col,
                    F.lit(bid).alias("batch_id"),
                )
            )
        # 2) fold this batch into the running totals (|groups| rows)
        rows = (
            batch.groupBy(group_col)
            .agg(
                F.count("*").alias("n"),
                F.sum("__x").alias("s"),
                F.sum(F.col("__x") * F.col("__x")).alias("ss"),
            )
            .collect()
        )
        for r in rows:
            n0, s0, ss0 = totals.get(r[group_col], (0, 0, 0))
            totals[r[group_col]] = (
                n0 + int(r["n"]), s0 + int(r["s"]), ss0 + int(r["ss"])
            )
        last_applied[0] = bid
        return Commit(outputs=outputs, snapshot=(sdir, dict(totals)))

    drain_foreach_batch(events, process, checkpoint_dir)
    return totals
