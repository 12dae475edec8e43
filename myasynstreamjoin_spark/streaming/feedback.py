"""Per-micro-batch adaptive strategy loop (reference T9).

The reference re-broadcasts heavy-hitter sets / strategy ids from the
driver to the next batch's custom partitioner through executor-resident
singletons (one-group-stateless/cluster/BroadcastWrapper.scala:15-37,
APKMate.scala:8-27) — a JVM-sharing side channel SURVEY.md §3 flags as
a correctness hazard. The engine-sanctioned equivalent is
``foreachBatch``: each micro-batch is a *batch* DataFrame, so the loop
is simply: compute skew stats → evaluate the X8 cost model → run the
chosen physical aggregation → record the decision. No side channels;
the decision trace is returned to the caller.

Driver memory is bounded over an UNBOUNDED stream: per-batch partial
counts are folded into one running per-key total as they arrive
(O(#keys), not O(#batches × #keys)), and the decision trace is a
bounded ring buffer — a stream that runs for months cannot grow either
structure past its cap.
"""

from __future__ import annotations

import tempfile
from collections import deque
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig


def adaptive_count_stream(
    spark: SparkSession,
    sf_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    lam: float = 1.0,
    max_decisions: int = 10_000,
) -> tuple[DataFrame, list[dict[str, Any]]]:
    """Stream the events table; per micro-batch choose hash vs salted
    aggregation by the fitted cost model and run it; fold each batch's
    partial counts into a running total as it completes.

    Returns ``(merged_counts, decisions)`` where merged_counts has
    schema (key, cnt) equal to the batch grouped count over the whole
    input, and decisions is one record per micro-batch (most recent
    ``max_decisions`` retained): {batch_id, strategy, p1, m_total}.
    """
    from myasynstreamjoin_spark.operators.cost_model import batch_strategy
    from myasynstreamjoin_spark.operators.skew import split_skew_agg
    from myasynstreamjoin_spark.streaming.windowed import stream_events

    kv = stream_events(spark, sf_dir).select(F.col("event_type").alias("key"))

    decisions: deque[dict[str, Any]] = deque(maxlen=max_decisions)
    running: list[pd.DataFrame] = []  # 0 or 1 element: the folded total

    def process(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_strategy(batch_df, "key", cfg, lam).collect()[0]
        decisions.append(
            {
                "batch_id": batch_id,
                "strategy": row["strategy"],
                "p1": row["p1"],
                "m_total": row["m_total"],
            }
        )
        if row["strategy"] == 0:
            out = batch_df.groupBy("key").agg(F.count("*").cast("long").alias("cnt"))
        else:
            out = split_skew_agg(batch_df, ["key"], {"cnt": ("count", "*")}, cfg=cfg)
        # eager fold: driver holds one per-key total, never the batch log
        frames = running + [out.toPandas()]
        running.clear()
        running.append(
            pd.concat(frames, ignore_index=True)
            .groupby("key", as_index=False)["cnt"]
            .sum()
        )

    # The replay never resumes: its checkpoint goes when the query stops.
    with tempfile.TemporaryDirectory(
        prefix="masj_fb_", ignore_cleanup_errors=True
    ) as checkpoint:
        q = (
            kv.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    if not running:
        merged = spark.createDataFrame([], "key string, cnt long")
    else:
        merged = spark.createDataFrame(running[0])
    return merged, list(decisions)
