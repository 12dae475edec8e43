"""Cost-model strategy selection (the reference's D/Dynamic operators).

Re-expresses SURVEY.md §2.3 X8/X11/X12: per batch (or per event-time
window) evaluate the reference's fitted cost model for hash vs
heavy-hitter-salted (APK) aggregation and emit the decision:

  costHH  = (14.55·p1 − 0.3857 + 1.0) · M / m     (zipf fit, m = 15)
  costAPK = ⌊M/m⌋ + λ·(K + |H|·(m−2) − singles)
  strategy = 0 (hash) if costHH ≤ costAPK else 1 (APK)
      (one-group-stateless/partitioner/DPartitioner.scala:31-56; the
       ⌊M/m⌋ is the reference's Int/Int division)

  per-window fit: costHH = (13.26·p1 + 1.02)·M/m,
  costAPK = ⌊M/m⌋ + λ·(K + |H|·(m−2))
      (one-group-state/cluster/DGrouping.scala:51-70)

  rate switch: round-robin when p1 > 0.1 else partial-key
      (one-group-state/partitioner/StateDynamicForOptimizedPartitioner.scala:36)

λ ("maximum load / dispersion") is a run parameter in the reference
(DGrouping.scala:27 args(3)); default 1.0 here.

Where the reference feeds the decision to a custom partitioner through
executor singletons + re-broadcast (DMate.scala, BroadcastWrapper.scala
— a JVM-sharing hazard SURVEY.md §3 flags), this engine computes the
decision as an ordinary aggregate (a one-row/per-window DataFrame,
scale-independent) and `adaptive_agg` applies it as a *plan* choice:
plain groupBy vs split_skew_agg. On a cluster the same residual role is
largely covered by AQE; the explicit operator keeps the experiment
reproducible and the decision observable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig
from myasynstreamjoin_spark.operators.skew import _phases, split_skew_agg
from myasynstreamjoin_spark.operators.stats import _count_stats


def _decision_cols(
    m_total: Column, k_keys: Column, n_heavy: Column, p1: Column,
    m: int, lam: float, hh_factor: Column, minus_singles: bool,
) -> list[Column]:
    # hh_factor is built by the caller with the reference's literal
    # expression shape so the DuckDB oracle (same shape, left-to-right
    # IEEE evaluation) produces bit-identical doubles.
    cost_hh = hh_factor * m_total / F.lit(m)
    disp = k_keys + n_heavy * F.lit(m - 2)
    if minus_singles:
        disp = disp - F.col("n_singletons")
    cost_apk = F.floor(m_total / F.lit(m)) + F.lit(lam) * disp
    return [
        F.round(cost_hh, 6).alias("cost_hh"),
        F.round(cost_apk, 6).alias("cost_apk"),
        F.when(cost_hh <= cost_apk, 0).otherwise(1).cast("int").alias("strategy"),
        F.when(p1 > 0.1, 1).otherwise(0).cast("int").alias("rr_switch"),
    ]


def batch_strategy(
    df: DataFrame,
    key: str = "key",
    cfg: EngineConfig = DEFAULT_CONFIG,
    lam: float = 1.0,
) -> DataFrame:
    """One-row strategy decision for the whole batch (X8).

    Output: (m_total, k_keys, max_cnt, n_heavy, n_singletons, p1,
    cost_hh, cost_apk, strategy, rr_switch).
    """
    return _count_stats(df, key, cfg).select(
        "m_total", "k_keys", "max_cnt", "n_heavy", "n_singletons",
        F.round(F.col("__p1"), 9).alias("p1"),
        *_decision_cols(
            F.col("m_total"), F.col("k_keys"), F.col("n_heavy"), F.col("__p1"),
            cfg.n_mappers, lam,
            F.lit(14.55) * F.col("__p1") - F.lit(0.3857) + F.lit(1.0),
            minus_singles=True,
        ),
    )


def per_window_strategy(
    df: DataFrame,
    key: str = "key",
    ltw_col: str = "ltw",
    cfg: EngineConfig = DEFAULT_CONFIG,
    lam: float = 1.0,
) -> DataFrame:
    """Per-event-time-window strategy map (X11) — the reference's
    {etw → 0/1} DMate table as a DataFrame.

    Output: (ltw, m_total, k_keys, max_cnt, n_heavy, p1, cost_hh,
    cost_apk, strategy, rr_switch).
    """
    return _count_stats(df, key, cfg, by=(ltw_col,)).select(
        ltw_col, "m_total", "k_keys", "max_cnt", "n_heavy",
        F.round(F.col("__p1"), 9).alias("p1"),
        *_decision_cols(
            F.col("m_total"), F.col("k_keys"), F.col("n_heavy"), F.col("__p1"),
            cfg.n_mappers, lam,
            F.lit(13.26) * F.col("__p1") + F.lit(1.02),
            minus_singles=False,
        ),
    )


def adaptive_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    lam: float = 1.0,
    fanout: int = 16,
) -> DataFrame:
    """Cost-model-dispatched aggregation: evaluate `batch_strategy` and
    run plain groupBy (hash) or split_skew_agg (APK) accordingly.

    The decision is a one-row collect — a driver-side *plan* choice
    (like AQE's runtime re-plan), never row data. Results are identical
    either way; only the physical shuffle shape differs.
    """
    choice = batch_strategy(df, keys[0], cfg, lam).select("strategy").collect()[0][0]
    if choice == 0:
        # hash: the partials of one plain groupBy are the result
        partials, _ = _phases(aggs)
        return df.groupBy(*keys).agg(
            *(p.cast("long").alias(name) for p, name in zip(partials, aggs))
        )
    return split_skew_agg(df, keys, aggs, fanout=fanout, cfg=cfg)
