"""Core-scaling probe (round-11 verdict #2/#5): time the heavy batch
headliners at a compute-bound scale under the CURRENT
``$SPARK_GRAFT_CPUS``, with warm min-of-2 semantics (one warmup pass,
two measured passes, per-query min — the bench's own de-noising
statistic; a single cold pass mixes JIT/codegen into the ratio, which
is exactly what made the sf0.1 scaling block unreadable). The passes
are ``bench.timed_passes``, so each query is timed as the bench times
it.

Run once per core count; each run is its own JVM so the core count is
real:

    SPARK_GRAFT_CPUS=32 python tools/core_probe.py .scratch/sf1ish > c32.json
    SPARK_GRAFT_CPUS=8  python tools/core_probe.py .scratch/sf1ish > c8.json

Size the probe heap to the box (SPARK_DRIVER_MEMORY=16g recommended
for the 10x corpus): the sandbox's single shared local[N] heap is the
artifact a real cluster doesn't have — 32 concurrent array-kernel
tasks on a default 8 GiB heap measure GC thrash, not scaling (observed:
q_minhash_pairs 146 s at 32 cores vs 43 s at 8 cores on the default
heap, both ~36 s warm with headroom).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from myasynstreamjoin_spark.session import get_spark  # noqa: E402

# The heavy batch headliners (r11 driver bench, descending warm cost),
# minus the streaming replays (fixed grids — they measure trigger
# machinery, not data parallelism) and q_bm25 (its fixed query terms
# match nothing in the replica-prefixed probe vocabulary — rows=0).
DEFAULT = [
    "q_ngram_jaccard",
    "q_remove_spans",
    "q_bloom_decontaminate",
    "q_minhash_pairs",
    "q_line_dedup",
    "q_tpch_q1",
    "q_tpch_q18",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf1ish"
    names = sys.argv[2:] or DEFAULT
    spark = get_spark(app_name="core_probe")

    out: dict[str, object] = {
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "semantics": "warm_min_of_2_noop_sink",
    }
    per_pass = [
        bench.wall_times(p) for p in bench.timed_passes(spark, names, sf_dir)
    ]
    out["queries_cold"] = per_pass[0]
    out["queries"] = bench.warm_min(per_pass)
    out["passes"] = per_pass
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
