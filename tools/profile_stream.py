"""Streaming replay phase profile (guide §1; VERDICT r11 item 3).

Breaks the two streaming headliners into their real phases, timing the
contract queries themselves through ``observe.run_query``:

- construct: building the streaming DataFrame and running it, since
  ``run_stream_to_table`` starts, drains and stops the stream before it
  returns the result table
- execute: ``count()`` of that table; release: its blocks
- per-batch ``durationMs`` from StreamingQueryProgress (addBatch,
  getBatch, latestOffset, queryPlanning, triggerExecution, walCommit,
  commitOffsets), read by a StreamingQueryListener
  (``perfbench.stream.ProgressLog``) — the per-micro-batch fixed-cost
  breakdown the round-11 verdict asked for before touching the
  grammar source.

Usage: python tools/profile_stream.py [n_passes] > STREAM_PROFILE.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
import bench  # noqa: E402
from myasynstreamjoin_spark.observe import run_query  # noqa: E402
from myasynstreamjoin_spark.session import get_spark  # noqa: E402
from perfbench.probes import drain_listener_bus  # noqa: E402
from perfbench.stream import ProgressLog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES = ("q_stream_grammar", "q_stream_min_count_window")


def profile(spark, log: ProgressLog, fn, sf_dir: str) -> dict:
    """``run_query`` of ``fn`` with a counting action, plus the
    progress of every micro-batch it ran."""
    seen = len(log.events)
    rows: list[int] = []
    rec = run_query(spark, fn, sf_dir, action=lambda df: rows.append(df.count()))
    drain_listener_bus(spark)
    return {
        **{k: round(v, 3) for k, v in rec.items()},
        "result_rows": rows[0],
        "batches": [
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p.get("durationMs"),
            }
            for p in log.events[seen:]
        ],
    }


def main() -> int:
    n_passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="profile_stream")
    log = ProgressLog()
    spark.streams.addListener(log)
    profile(spark, log, bench.grammar_warmup, SF_DIR)
    queries = contract.queries()
    out: dict[str, list] = {name: [] for name in QUERIES}
    for _ in range(n_passes):
        for name in QUERIES:
            out[name].append(profile(spark, log, queries[name], SF_DIR))
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
