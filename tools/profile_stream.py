"""Streaming replay phase profile (guide §1; VERDICT r11 item 3).

Breaks the two streaming headliners into their real phases:

- construct: building the streaming DataFrame (source registration,
  schema, decode plan)
- start: ``writeStream.start()`` — sink/checkpoint init, offset log,
  state-store provider init, first codegen
- drain: ``processAllAvailable()`` — every micro-batch
- per-batch ``durationMs`` from StreamingQueryProgress (addBatch,
  getBatch, latestOffset, queryPlanning, triggerExecution, walCommit,
  commitOffsets) — the per-micro-batch fixed-cost breakdown the
  round-11 verdict asked for before touching the grammar source.

Usage: python tools/profile_stream.py [n_passes] > STREAM_PROFILE.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myasynstreamjoin_spark.config import EngineConfig  # noqa: E402
from myasynstreamjoin_spark.session import (  # noqa: E402
    get_spark,
    override_widths,
    replay_state_partitions,
)
from myasynstreamjoin_spark.streaming.windowed import (  # noqa: E402
    _replay_checkpoint_dir,
    stream_events,
    stream_grammar_min_count,
    stream_min_count_per_window,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_profiled(spark, make_df, input_bytes: int = 0) -> dict:
    """run_stream_to_table, instrumented phase by phase."""
    import uuid

    t0 = time.perf_counter()
    df = make_df()
    t1 = time.perf_counter()
    name = f"sink_{uuid.uuid4().hex[:12]}"
    with _replay_checkpoint_dir() as checkpoint:
        with override_widths(
            spark, state=replay_state_partitions(spark, input_bytes)
        ):
            q = (
                df.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", checkpoint)
                .start()
            )
        t2 = time.perf_counter()
        try:
            q.processAllAvailable()
            t3 = time.perf_counter()
            progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
        t4 = time.perf_counter()
    n = spark.table(name).count()
    t5 = time.perf_counter()
    batches = [
        {
            "batchId": p.get("batchId"),
            "numInputRows": p.get("numInputRows"),
            "durationMs": p.get("durationMs"),
        }
        for p in progress
    ]
    return {
        "construct_s": round(t1 - t0, 3),
        "start_s": round(t2 - t1, 3),
        "drain_s": round(t3 - t2, 3),
        "stop_s": round(t4 - t3, 3),
        "collect_s": round(t5 - t4, 3),
        "total_s": round(t5 - t0, 3),
        "result_rows": n,
        "batches": batches,
    }


def main() -> int:
    n_passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="profile_stream")
    cfg = EngineConfig(lgw_ms=1000, watermark_delay="2 seconds")

    # warmup identical to bench.py's streaming warmup
    from myasynstreamjoin_spark.streaming.windowed import run_stream_to_table

    run_stream_to_table(
        stream_grammar_min_count(
            spark, cfg, messages="8", records_per_message="8",
            partitions="2", messages_per_batch="8",
        ),
        spark,
    ).count()

    out: dict[str, list] = {"q_stream_grammar": [], "q_stream_min_count_window": []}
    for _ in range(n_passes):
        out["q_stream_grammar"].append(
            run_profiled(
                spark,
                lambda: stream_grammar_min_count(
                    spark, cfg, messages="200", records_per_message="8",
                    partitions="4", messages_per_batch="100",
                ),
            )
        )
        from myasynstreamjoin_spark.config import DEFAULT_CONFIG

        out["q_stream_min_count_window"].append(
            run_profiled(
                spark,
                lambda: stream_min_count_per_window(
                    stream_events(spark, SF_DIR), DEFAULT_CONFIG
                ),
                input_bytes=os.path.getsize(f"{SF_DIR}/events.parquet"),
            )
        )
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
