"""Streaming PSI drift monitor: score every micro-batch's value
distribution against its PREDECESSOR batch — the live counterpart of
``operators.stats.drift_timeline`` (same buckets, same add-one
smoothing, same nano-unit fold: the PSI expressions are imported from
stats.py so stream ≡ batch holds bit-for-bit), and the fourth member
of the foreachBatch control-loop family (cost-model feedback, quality
expectations, anomaly flags, now distribution drift).

Semantics: batch N yields one row (win_start_ns, n_prev, n_cur, psi)
comparing it to batch N−1; the first batch of a stream emits nothing
(no predecessor — exactly `drift_timeline`'s "window with a
predecessor" rule). Bucket bounds are REQUIRED: a stream never knows
its global min/max, so the caller pins the reference range (a model's
training-time value range) the way any production drift monitor does.

Replay safety (foreachBatch is at-least-once): per-batch output dirs
``{out}/b{N}`` in overwrite mode; the predecessor histogram (one
n_buckets-long integer list) snapshots to ``{state}/s{N}.json``
(atomic tmp+rename) and a replayed batch N reloads the newest snapshot
BELOW N — the pre-N-base rule of streaming/commits.py.

Bounded state, unbounded stream: n_buckets integers per snapshot.
The per-batch bucket histogram is computed distributed (groupBy on the
batch, JVM-side round/clamp identical to the batch operator) and only
the n_buckets-row result is collected; the PSI itself is evaluated on
a tiny in-memory frame with the SHARED Spark expressions — never in
Python float arithmetic, so no libm-vs-JVM ulp risk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.operators.stats import (
    psi_close_expr,
    psi_nano_term,
)
from myasynstreamjoin_spark.streaming.commits import (
    Commit,
    drain_foreach_batch,
    load_snapshot_below,
    read_committed_batches,
)


def read_drift(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """All drift rows across committed batches, or None if nothing
    scored yet."""
    return read_committed_batches(spark, out_dir)


def run_streaming_drift(
    events: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
    *,
    bounds: tuple[int, int],
    state_dir: str | None = None,
    value_col: str = "value",
    ts_col: str = "ts",
    window_ns: int = 3_600_000_000_000,
    n_buckets: int = 10,
    unit: int = 1000,
    require_adjacent: bool = True,
) -> None:
    """Drain a (bounded, for tests) event stream; write one PSI row
    per batch-with-a-predecessor under ``out_dir``. When each batch
    carries exactly one event-time window in window order, the union
    of the outputs equals ``drift_timeline(events, bounds=bounds)``
    row for row (pytest-locked in tests/test_stream_drift.py).

    ``require_adjacent`` (default) scores a batch only when its window
    immediately follows the predecessor's (w == prev_w + 1), exactly
    `drift_timeline`'s w−1 join — a data gap yields silence, not a
    misleading drift score against a stale histogram. Monitors whose
    batches don't align to event-time windows pass False to compare
    against the previous batch unconditionally."""
    sdir = state_dir or (out_dir.rstrip("/") + "_state")
    mn, mx = int(bounds[0]), int(bounds[1])
    prev_state: list = [None]  # (win, counts) of the predecessor batch
    last_applied: list[int] = [-1]

    def process(batch_df: DataFrame, bid: int) -> Commit | None:
        if last_applied[0] != bid - 1:
            # first batch of this incarnation, or a replay: resume the
            # predecessor histogram from the newest snapshot BELOW bid
            snap = load_snapshot_below(sdir, bid)
            prev_state[0] = (
                None if snap is None else (snap["win"], snap["counts"])
            )
        bspark = batch_df.sparkSession
        xq = F.round(F.col(value_col) * F.lit(unit)).cast("long")
        rows = (
            batch_df.where(
                F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
            )
            .select(
                F.expr(f"{ts_col} DIV {int(window_ns)}L").alias("__w"),
                xq.alias("__xq"),
            )
            .select(
                "__w",
                F.greatest(
                    F.lit(mn), F.least(F.lit(mx), F.col("__xq"))
                ).alias("__cl"),
            )
            .select(
                "__w",
                F.expr(
                    f"((__cl - {mn}L) * {n_buckets}) DIV ({mx}L - {mn}L + 1)"
                ).alias("bucket"),
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("c"), F.min("__w").alias("w"))
            .collect()  # ≤ n_buckets rows — the histogram, not the data
        )
        if not rows:
            last_applied[0] = bid
            return None
        cur_counts = [0] * n_buckets
        for r in rows:
            cur_counts[int(r["bucket"])] = int(r["c"])
        cur_win = min(int(r["w"]) for r in rows)
        prev = prev_state[0]
        if prev is not None and require_adjacent and prev[0] != cur_win - 1:
            prev = None
        if prev is not None:
            _, prev_counts = prev
            # dense add-one smoothing over (prev, cur), folded with the
            # SHARED batch expressions on an n_buckets-row frame
            tiny = bspark.createDataFrame(
                [
                    (b, prev_counts[b] + 1, cur_counts[b] + 1)
                    for b in range(n_buckets)
                ],
                "bucket long, ar long, ac long",
            ).select(
                "ar",
                "ac",
                F.lit(sum(prev_counts) + n_buckets).alias("tr"),
                F.lit(sum(cur_counts) + n_buckets).alias("tc"),
            )
            nano = psi_nano_term(
                F.col("ar"), F.col("tr"), F.col("ac"), F.col("tc")
            )
            out = (
                tiny.select(nano.alias("nano"), "tr", "tc")
                .groupBy()
                .agg(
                    (F.max("tr") - F.lit(n_buckets)).alias("n_prev"),
                    (F.max("tc") - F.lit(n_buckets)).alias("n_cur"),
                    psi_close_expr().alias("psi"),
                )
                .select(
                    F.lit(cur_win * window_ns).alias("win_start_ns"),
                    "n_prev",
                    "n_cur",
                    "psi",
                )
            )
        else:
            out = bspark.createDataFrame(
                [],
                "win_start_ns long, n_prev long, n_cur long, psi double",
            )
        prev_state[0] = (cur_win, cur_counts)
        last_applied[0] = bid
        # per-batch overwrite → replays replace, never duplicate
        return Commit(
            outputs={out_dir: out},
            snapshot=(sdir, {"win": cur_win, "counts": cur_counts}),
        )

    drain_foreach_batch(events, process, checkpoint_dir)
