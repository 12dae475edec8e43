"""Batch workload: warm passes over driver-contract queries.

The queries read the shipped sf0.01 tables that the repository's oracle
tests run on (``bench.py`` runs the same tables at sf0.1), copied
unchanged into ``perfbench/data`` so that a run needs nothing outside
the checkout. Set-up runs one pass that checks every result against
its DuckDB oracle and WARM_PASSES more untimed passes; the timed part
then runs whole passes until ``seconds`` have elapsed (at least
MIN_PASSES). Each query is built, written to Spark's ``noop`` sink and
has the blocks it left persisted released, as ``bench.py`` does.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import re
import statistics
import time

from perfbench.probes import HostSample, StatusDelta, retained_mb
from perfbench.stream import ProgressLog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# The tables the queries below read.
TABLES = ("customer", "orders", "lineitem", "events", "documents")
# A subset of bench.py's HEADLINE list: one query per operator family,
# which fixed cost dominates at this size; q_line_dedup also runs eager
# checkpoint jobs and q_stream_min_count_window a finite stream replay
# during construction.
HEADLINE = [
    "q_min_count_window",
    "q_word_count",
    "q_star_join",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_asof_join",
    "q_textstats",
    "q_dedup_exact",
    "q_line_dedup",
    "q_stream_min_count_window",
]
MIN_PASSES = 4
# Untimed noop passes after the checking pass. On small inputs the JIT
# keeps compiling for about three passes, and the CPU per pass falls by
# a third before it settles.
WARM_PASSES = 1


def layer_of(fn) -> str:
    """The engine package that implements a contract query: the first
    of operators, functions or streaming that its body imports."""
    found = re.search(
        r"myasynstreamjoin_spark\.(operators|functions|streaming)\b",
        inspect.getsource(fn),
    )
    return found.group(1) if found else "operators"


def fingerprint() -> dict:
    """Row count per table plus one SHA-256 over the table files."""
    import pyarrow.parquet as pq

    digest = hashlib.sha256()
    rows = {}
    for name in TABLES:
        path = os.path.join(DATA, f"{name}.parquet")
        rows[name] = pq.ParquetFile(path).metadata.num_rows
        with open(path, "rb") as f:
            digest.update(f.read())
    return {"rows": rows, "sha256": digest.hexdigest()[:16]}


def run(ctx, name: str) -> dict:
    from myasynstreamjoin_spark.blocks import batch_lock, persisted_ids, release_blocks

    import __spark_entry__ as contract

    spark = ctx.start_session()
    fns = contract.queries()
    layers = {q: layer_of(fns[q]) for q in HEADLINE}
    tracer = ctx.tracer
    status = StatusDelta(spark)
    replays = None
    if tracer.enabled:
        replays = ProgressLog()
        spark.streams.addListener(replays)

    def one(q: str, action=None) -> dict:
        """Build, act and release one query (the default action writes
        to the noop sink); per-phase wall and status-store counts (the
        counts only when tracing)."""
        rec = {}
        with tracer.span(q, layer=layers[q]):
            pre = persisted_ids(spark)
            with tracer.span("construct") as counts:
                t = time.perf_counter()
                df = fns[q](spark, DATA)
                rec["construct_s"] = time.perf_counter() - t
                if tracer.enabled:
                    counts.update(status.collect())
                    rec["construct_jobs"] = counts["jobs"]
            with tracer.span("execute") as counts:
                t = time.perf_counter()
                if action is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    action(df)
                rec["execute_s"] = time.perf_counter() - t
                if tracer.enabled:
                    counts.update(status.collect(skew=True))
                    rec["status"] = dict(counts)
            with tracer.span("release") as counts:
                t = time.perf_counter()
                leftover = persisted_ids(spark) - pre
                with batch_lock(spark):
                    release_blocks(spark, pre)
                rec["release_s"] = time.perf_counter() - t
                rec["persisted_n"] = len(leftover)
        rec["wall_s"] = rec["construct_s"] + rec["execute_s"] + rec["release_s"]
        return rec

    # Set-up: a first pass that checks every result against its oracle
    # (queries that fail are left out of the timed part), then
    # WARM_PASSES passes into the noop sink.
    with tracer.span("check_pass"):
        failed = check_against_oracles(one)
    timed = [q for q in HEADLINE if q not in failed]
    for _ in range(WARM_PASSES):
        with tracer.span("warm_pass"):
            for q in timed:
                one(q)
    ctx.setup_done()
    if replays:
        replays.events.clear()

    passes: list[dict[str, dict]] = []
    host0 = HostSample.take()
    status.mark()
    t_start = time.perf_counter()
    with tracer.span(name):
        while len(passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
            with tracer.span("pass"):
                c0 = HostSample.take()
                recs = {q: one(q) for q in timed}
                c1 = HostSample.take()
            recs["_pass"] = c1.since(c0)
            passes.append(recs)
    host = HostSample.take().since(host0)
    retained = retained_mb(spark)
    layer = layer_metrics(passes, timed, layers, replays) if tracer.enabled else None

    # Warm-min per query, as bench.py reports it: the fastest timed pass
    # is the one host steal and other tenants disturbed least.
    per_query = {q: min(p[q]["wall_s"] for p in passes) for q in timed}
    result = {
        "workload": name,
        "attempted": len(HEADLINE) * (1 + len(passes)),
        "failed": len(failed) * (1 + len(passes)),
        "failures": failed,
        "passes": len(passes),
        "inputs": fingerprint(),
        "host": host,
        "end_to_end": {
            "result_ms": 1e3 * sum(per_query.values()),
            "cpu_s": statistics.median(p["_pass"]["own_cpu_s"] for p in passes),
            "retained_mb": retained,
        },
        "per_query_min_s": per_query,
        "per_query_median_s": {
            q: statistics.median(p[q]["wall_s"] for p in passes) for q in timed
        },
        "passes_wall_s": [p["_pass"]["wall_s"] for p in passes],
        "passes_cpu_s": [p["_pass"]["own_cpu_s"] for p in passes],
    }
    if layer is not None:
        result["per_layer"] = layer
    return result


def check_against_oracles(one) -> dict[str, str]:
    """Run each query once, comparing its result with its DuckDB oracle
    from ``__spark_entry__.oracle_sql()`` through the repository's own
    comparator (typed schema, row count, rows after sorting). Returns
    the queries that failed, with the reason."""
    import duckdb

    import __spark_entry__ as contract
    from tests.conftest import assert_matches_oracle

    oracles = contract.oracle_sql()
    failed = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')"
            )
        for q in HEADLINE:
            if q not in oracles:
                failed[q] = "no oracle"
                continue
            try:
                one(q, lambda df: assert_matches_oracle(df, con, oracles[q]))
            except Exception as exc:  # a failing query is counted, not fatal
                failed[q] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        con.close()
    return failed


def layer_metrics(passes, timed, layers, replays) -> dict[str, float]:
    """Per-pass totals from the traced run, as medians over passes."""
    def med(fn) -> float:
        return statistics.median(fn(p) for p in passes)

    def sum_layer(layer: str | None, key: str):
        """Sum of ``key`` over the queries of ``layer`` (None: all)."""
        return lambda p: sum(p[q][key] for q in timed if layer in (None, layers[q]))

    def sum_status(key: str):
        return lambda p: sum(p[q]["status"].get(key, 0.0) for q in timed)

    def widest_skew(p) -> float:
        stats = [p[q]["status"] for q in timed]
        top = max(stats, key=lambda s: s.get("widest_read_mb", 0.0))
        return top.get("skew_max_med", 0.0)

    out = {
        f"{layer}.{phase}_s": med(sum_layer(layer, f"{phase}_s"))
        for layer in ("operators", "functions")
        for phase in ("construct", "execute")
    }
    out["entry.construct_jobs"] = med(sum_layer(None, "construct_jobs"))
    out["sources.input_mb"] = med(sum_status("input_mb"))
    out["sources.input_rows"] = med(sum_status("input_rows"))
    out["blocks.persisted_n"] = med(sum_layer(None, "persisted_n"))
    out["blocks.release_s"] = med(sum_layer(None, "release_s"))
    out["streaming.replay_s"] = med(sum_layer("streaming", "wall_s"))
    for key in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"spark.{key}"] = med(sum_status(key))
    out["spark.busy_cores"] = med(
        lambda p: sum_status("exec_run_s")(p) / p["_pass"]["wall_s"]
    )
    out["spark.skew_max_med"] = med(widest_skew)
    out.update(replays.metrics() if replays else {})
    return out
