"""Skew-aware grouped aggregation (the reference's portable core idea).

The reference's partitioner zoo (SURVEY.md §2.3 X3-X8: round-robin,
partial-key power-of-d-choices, head/tail APK, cost-model switching)
all attack one problem: a hot grouping key overloading one reducer.
In Spark the *first-order* fix is free — Catalyst's partial/final
HashAggregate combines map-side, so a hot key costs each mapper one
cell. Salting matters in the residual cases: high-cardinality state
per key (collect_list / distinct-style aggs) or extreme single-key
dominance. These helpers provide that residual path:

- `salted_agg`   — unconditional PKG analog (X4): every key spreads
  over `fanout` salts; two-phase combine re-merges.
- `split_skew_agg` — APK head/tail analog (X7): only detected heavy
  keys (freq > 0.2·total/m, APKGrouping.scala:97) are salted, the tail
  takes the plain single-shuffle path.

Both run one two-phase body (`_two_phase`) and differ only in the salt
column they pass; `star_join.star_cardinality_hypercube` is
`split_skew_agg` over (key, rel). Each takes re-mergeable (partial,
final) aggregate pairs so the transform is semantics-preserving —
tests assert equality with the plain groupBy for count/sum/max/min.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myasynstreamjoin_spark.config import DEFAULT_CONFIG, EngineConfig
from myasynstreamjoin_spark.operators.stats import heavy_hitters

# (partial_agg, final_merge) pairs keyed by logical aggregate name.
# partial runs per (key, salt); final re-merges partials per key.
_MERGEABLE = {
    "count": (lambda c: F.count("*"), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "max": (lambda c: F.max(c), F.max),
    "min": (lambda c: F.min(c), F.min),
}


def _phases(aggs: dict[str, tuple[str, str]]) -> tuple[list[Column], list[Column]]:
    partials, finals = [], []
    for out_name, (fn, col) in aggs.items():
        if fn not in _MERGEABLE:
            raise ValueError(f"aggregate {fn!r} is not re-mergeable; use plain groupBy")
        partial, final = _MERGEABLE[fn]
        tmp = f"__p_{out_name}"
        partials.append(partial(col).alias(tmp))
        finals.append(final(tmp).cast("long").alias(out_name))
    return partials, finals


def _two_phase(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt: Column,
) -> DataFrame:
    """The one salted aggregation body: partials per (keys, salt),
    then the final merge per keys. A row whose salt is constant takes
    what is in effect the plain single-shuffle path (its final merge
    folds one partial)."""
    partials, finals = _phases(aggs)
    return (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*partials)
        .groupBy(*keys)
        .agg(*finals)
    )


def _spread(fanout: int) -> Column:
    # monotonically_increasing_id keeps the salt cheap and uniform
    # without touching data columns
    return F.pmod(F.monotonically_increasing_id(), F.lit(fanout))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    fanout: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation: every key spreads over ``fanout``
    salts, and the final merge re-combines them.

    ``aggs`` maps output column name → (agg_fn, input_col), e.g.
    ``{"cnt": ("count", "*"), "total": ("sum", "value")}``.

    The uniform salt mirrors the reference's d-choices placement
    (PartialKeyPartitioner.scala:17-29) — but where the reference
    needed per-sender load tracking, uniform salting + final merge
    achieves the same balance statelessly.
    """
    return _two_phase(df, keys, aggs, _spread(fanout))


def split_skew_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    fanout: int = 16,
    cfg: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Head/tail skew aggregation (APK, X7): detect heavy ``keys[0]``
    values with the reference's rule and salt ONLY those (head → d
    choices, AdvancedPartialKeyPartitioner.scala:24-50); the light tail
    keeps the constant salt 0.

    The heavy-key set is a small broadcast (bounded by m/θ keys by the
    threshold's pigeonhole), exactly like the reference's re-broadcast
    feedback loop (BroadcastWrapper.scala:15-37) minus the cross-batch
    state.

    The head/tail split is a CONDITIONAL SALT inside one aggregation
    pass, not two filtered branches union'd back together: the r11
    stage profile showed the union form scanning the fact table SIX
    times (each arm re-ran the scan and the detection subtree). The
    conditional form is 2 scans: one inside the detection, one for the
    aggregate — the floor for detect-then-aggregate.
    """
    key0 = keys[0]
    heavy = heavy_hitters(df, key0, cfg).select(
        F.col(key0).alias("__hk"), F.lit(True).alias("__heavy")
    )
    tagged = df.join(
        F.broadcast(heavy), df[key0] == F.col("__hk"), "left"
    ).drop("__hk")
    salt = F.when(F.col("__heavy").isNotNull(), _spread(fanout)).otherwise(
        F.lit(0).cast("long")
    )
    return _two_phase(tagged, keys, aggs, salt)
