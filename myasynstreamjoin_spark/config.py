"""Engine configuration.

Mirrors the runtime knobs the reference loads from ``stream.json`` via
``my-common/src/main/scala/myutils/MyUtils.scala:14-56`` (batch duration,
mapper/reducer counts, logical window slot ``lgw``, key space), expressed
as a frozen dataclass instead of a JSON side-file.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class EngineConfig:
    """Knobs shared by every operator.

    lgw_ms
        Event-time tumbling window width in ms ("logic_time_slot",
        reference stream.json:10 uses 1000 ms). The driver's `events`
        table spans ~30 days, so windowed queries default to 1 h
        windows to get meaningful per-window populations; the 1000 ms
        reference value is honored when callers pass it explicitly.
    n_sources
        Number of input ports / star relations P ("ports_num"); the
        fixture mapping derives source id as user_id % n_sources
        (FIXTURES.md §2, P = 3).
    n_mappers / n_reducers
        Reference parallelism knobs (stream.json:6-7: 12 / 2). Only
        n_mappers matters semantically — it parameterizes the
        heavy-hitter threshold.
    hh_threshold
        Heavy-hitter frequency fraction: a key is heavy iff
        freq > hh_threshold * total / n_mappers
        (one-group-stateless/cluster/APKGrouping.scala:97).
    watermark_delay
        Structured Streaming watermark tolerance. The reference assumes
        in-order-per-port data (state/timetable/MyStateJoinUtils.scala:44-46);
        a small positive delay is strictly more robust.
    """

    lgw_ms: int = 3_600_000
    n_sources: int = 3
    n_mappers: int = 12
    n_reducers: int = 2
    hh_threshold: float = 0.2
    watermark_delay: str = "1 hour"

    @property
    def lgw_ns(self) -> int:
        """Window width in nanoseconds (events.ts is epoch-ns)."""
        return self.lgw_ms * 1_000_000

    def with_lgw(self, lgw_ms: int) -> "EngineConfig":
        return replace(self, lgw_ms=lgw_ms)


#: Reference-faithful config: 1000 ms windows, as in stream.json.
REFERENCE_CONFIG = EngineConfig(lgw_ms=1000)

#: Default config used by the driver-facing queries.
DEFAULT_CONFIG = EngineConfig()
