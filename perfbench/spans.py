"""In-memory spans for the traced mode.

A span has a name, a start and an end (seconds on the run's clock), the
id of its parent and a dict of counts. Spans stay in memory and are
written out once, when the run ends. A span's self time is its duration
minus the union of the intervals its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()
        self.wall_offset = self.t0 - time.time()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **counts) -> int:
        """Record a finished span; ``start`` and ``end`` are
        ``time.perf_counter()`` readings. Returns the span id."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "start": start - self.t0, "end": end - self.t0, "counts": counts,
        })
        return len(self.spans) - 1

    def add_wall(self, name: str, start_ms: float, end_ms: float,
                 parent: int | None = None, **counts) -> int:
        """``add`` for a span whose ends are epoch milliseconds."""
        return self.add(name, start_ms / 1e3 + self.wall_offset,
                        end_ms / 1e3 + self.wall_offset, parent, **counts)

    @contextmanager
    def span(self, name: str, **counts):
        """Time the block as a span; the yielded dict receives counts."""
        if not self.enabled:
            yield counts
            return
        sid = self.add(name, time.perf_counter(), 0.0, **counts)
        self._stack.append(sid)
        try:
            yield self.spans[sid]["counts"]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter() - self.t0

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)
