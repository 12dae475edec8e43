"""The one measurement step every harness shares: build a query, act on
it, release what it left persisted, and report the wall of each phase.

``bench.py`` and the tools under ``tools/`` all time queries through
``run_query``; none of them snapshots or releases blocks itself.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from myasynstreamjoin_spark.blocks import (
    batch_lock,
    persisted_ids,
    release_blocks,
)


def run_query(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    action: Callable[[DataFrame], object] | None = None,
) -> dict:
    """Build ``fn(spark, sf_dir)``, run ``action`` on it and release
    every block persisted since the call began. Returns ``{construct_s, execute_s, release_s, wall_s,
    persisted_n, codegen_compiles}``: the wall of each phase, their
    sum, how many RDDs the query left persisted, and how many classes
    Spark's code generator compiled while the query was built, run and
    released (0 when every class came from the session's codegen cache;
    ``session.get_spark`` sizes it). An exception from ``fn`` or
    ``action`` propagates after the release.

    The default action writes to the ``noop`` sink: every row and
    column is materialized on the executors and nothing ships to the
    driver. ``count()`` would let Catalyst prune the columns a count
    never reads, and with them whole plan branches.

    The persisted-id snapshot is taken WITHOUT the context's batch
    lock, and only the release holds it. Holding the lock across the
    whole query would deadlock a streaming query: its foreachBatch
    bodies take the same lock from the micro-batch thread (the lock is
    re-entrant per thread, and that is a different thread). Queries
    run one at a time here, so an unlocked snapshot plus a locked
    release after completion is race-free."""
    rec = {}
    compiles = codegen_compiles(spark)
    before = persisted_ids(spark)
    t = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        rec["construct_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if action is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            action(df)
        rec["execute_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        rec["persisted_n"] = len(persisted_ids(spark) - before)
        with batch_lock(spark):
            release_blocks(spark, before)
        rec["release_s"] = time.perf_counter() - t
    rec["codegen_compiles"] = codegen_compiles(spark) - compiles
    rec["wall_s"] = rec["construct_s"] + rec["execute_s"] + rec["release_s"]
    return rec


def codegen_compiles(spark: SparkSession) -> int:
    """How many classes Spark's code generator has compiled in this JVM
    so far: the count of its compile-time histogram. A class served
    from the codegen cache is not counted."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
