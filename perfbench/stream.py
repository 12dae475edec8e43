"""Open-loop stream workload.

Spark's built-in ``rate`` source generates rows inside the JVM on the
wall clock, whatever the engine's progress, and stamps each row with the
time it was due. The benchmark maps each row into the engine's events
schema with seeded Zipf-skewed keys spread over three ports, feeds the
rows to ``streaming.windowed.stream_min_count_per_window`` and writes
the result through a thin ``foreachBatch`` sink that stamps the time of
each emission. The trigger is a processing-time trigger as long as the
window, so micro-batches and windows share one grid.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.probes import HostSample, StatusDelta, retained_mb

# rows/s. 1000 / RATE is exact in binary, so the rate source's
# timestamps are an exact function of the row value and its start time.
RATE = 16384
WINDOW_MS = 1000
KEYS = 1000
PORTS = 3
WATERMARK = "1 second"
# Micro-batch time keeps falling for about 15 batches (JIT).
WARMUP_BATCHES = 15
# The rate source releases whole seconds of rows, counted from its start
# time. A start that falls near the trigger grid makes releases race the
# trigger, so set-up restarts the stream until it falls inside this band.
PHASE_MS = (150, 850)


def mapped_events(values: Column, ts_ms: Column, seed: int) -> list[Column]:
    """Events-schema columns for a rate row: ``event_type`` is a key
    drawn from a bounded Zipf(1) over KEYS keys, ``user_id % 3`` is the
    port. Used for the stream and for the batch recomputation alike."""
    u = F.pmod(F.xxhash64(values, F.lit(seed)), F.lit(2**31)) / F.lit(float(2**31))
    key = F.floor(F.pow(F.lit(KEYS + 1.0), u)) - 1
    return [
        values.alias("event_id"),
        (ts_ms * 1_000_000).alias("ts"),
        F.pmod(F.xxhash64(values, F.lit(seed + 1)), F.lit(3000)).alias("user_id"),
        F.concat(F.lit("k"), key.cast("string")).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("").alias("props"),
    ]


def rate_ts_ms(values: Column, start_ms: int) -> Column:
    """The rate source's timestamp for a row value, in epoch ms:
    Math.round(start + value * 1000 / RATE), exact for this RATE."""
    return F.lit(start_ms) + F.floor((values * 2000 + RATE) / (2 * RATE)).cast("long")


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event of every stream the session runs."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def metrics(self) -> dict[str, float]:
        return progress_metrics(self.events)


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch phases and state figures, as medians over
    batches; dropped rows are summed."""
    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    d = [p["durationMs"] for p in progress]
    return {
        "streaming.trigger_ms": med(x.get("triggerExecution", 0) for x in d),
        "streaming.add_batch_ms": med(x.get("addBatch", 0) for x in d),
        "streaming.planning_ms": med(x.get("queryPlanning", 0) for x in d),
        "streaming.log_commit_ms": med(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d
        ),
        "streaming.state_rows": med(o["numRowsTotal"] for o in ops),
        "streaming.state_mb": med(o["memoryUsedBytes"] / 2**20 for o in ops),
        "streaming.state_commit_ms": med(o["commitTimeMs"] for o in ops),
        "streaming.state_update_ms": med(o["allUpdatesTimeMs"] for o in ops),
        "streaming.rows_dropped": float(sum(o["numRowsDroppedByWatermark"] for o in ops)),
    }


def _epoch_ms(iso: str) -> int:
    t = dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return round(t.timestamp() * 1000)


def tail_percentile(n: int) -> float:
    """Highest whole percentile with at least ten samples beyond it."""
    p = 99
    while p > 50 and n * (100 - p) / 100 < 10:
        p -= 1
    return float(p)


def percentile(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(len(s) * p / 100))]


class Sink:
    """foreachBatch target: collects each micro-batch's windows and
    stamps the wall time at which they reached the sink."""

    def __init__(self):
        self.batches: dict[int, tuple[float, list[tuple]]] = {}
        self.cost_s: list[float] = []

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.perf_counter()
        rows = [(r.key, r.ltw, r.min_cnt) for r in df.collect()]
        self.batches[batch_id] = (time.time() * 1000, rows)
        self.cost_s.append(time.perf_counter() - t0)


def start_query(spark, ctx, sink: Sink, attempt: int):
    from myasynstreamjoin_spark.config import EngineConfig
    from myasynstreamjoin_spark.streaming.windowed import stream_min_count_per_window

    ckpt = os.path.join(ctx.work, f"ckpt{attempt}")
    rate = spark.readStream.format("rate").option("rowsPerSecond", RATE).load()
    events = rate.select(*mapped_events(
        F.col("value"), F.unix_millis("timestamp"), ctx.seed
    ))
    cfg = EngineConfig(lgw_ms=WINDOW_MS, watermark_delay=WATERMARK)
    # Start a third of the way into a trigger interval, so the source's
    # start time usually lands inside PHASE_MS.
    time.sleep((0.35 - time.time() % 1.0) % 1.0)
    query = (
        stream_min_count_per_window(events, cfg)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(processingTime=f"{WINDOW_MS} milliseconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    return query, ckpt


def source_start_ms(ckpt: str, query, timeout_s: float = 60.0) -> int:
    """The rate source's recorded start time, from its checkpoint."""
    path = os.path.join(ckpt, "sources", "0", "0")
    deadline = time.time() + timeout_s
    while not os.path.exists(path):
        if query.exception():
            raise RuntimeError(str(query.exception()))
        if time.time() > deadline:
            raise TimeoutError("the rate source recorded no start time")
        time.sleep(0.05)
    with open(path) as f:
        return int(f.read().split()[-1])


def wait_for_batch(query, after: int, timeout_s: float = 60.0) -> int:
    """Wait until a micro-batch with id > ``after`` has completed."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        last = query.lastProgress
        if last and last["batchId"] > after:
            return last["batchId"]
        if query.exception():
            raise RuntimeError(str(query.exception()))
        time.sleep(0.05)
    raise TimeoutError("no micro-batch completed")


def run(ctx, name: str) -> dict:
    spark = ctx.start_session()
    tracer = ctx.tracer

    # Set-up: start the stream (restarting it if its phase is off the
    # band) and let WARMUP_BATCHES micro-batches run untimed.
    for attempt in range(5):
        sink = Sink()
        query, ckpt = start_query(spark, ctx, sink, attempt)
        start_ms = source_start_ms(ckpt, query)
        if PHASE_MS[0] <= start_ms % 1000 <= PHASE_MS[1]:
            break
        query.stop()
    else:
        raise RuntimeError("rate source start never fell inside the phase band")
    first = wait_for_batch(query, WARMUP_BATCHES - 1)
    ctx.setup_done()

    # The timed part is a whole number of micro-batches, one per trigger
    # interval, measured from the end of one batch to the end of another.
    status = StatusDelta(spark)
    host0 = HostSample.take()
    last = first
    while last < first + max(1, round(ctx.seconds * 1000 / WINDOW_MS)):
        last = wait_for_batch(query, last)
    host = HostSample.take().since(host0)
    counts = status.collect(skew=True)
    query.stop()
    error = query.exception()
    retained = retained_mb(spark)

    progress = [json.loads(p.json) for p in query.recentProgress]
    progress = [p for p in progress if p["batchId"] <= last]
    timed = [p for p in progress if p["batchId"] > first]
    # Per emitted window: ``lat`` from the window's end (when its last
    # row was due) to emission, and ``emit`` from the start of the
    # trigger that emitted it to emission. ``lat`` is ``emit`` plus the
    # watermark delay and whole trigger intervals.
    trigger_start = {p["batchId"]: _epoch_ms(p["timestamp"]) for p in timed}
    emitted = [
        (emit_ms, bid, ltw)
        for bid, (emit_ms, rows) in sink.batches.items()
        if first < bid <= last
        for _, ltw, _ in rows
    ]
    lat = [emit_ms - (ltw + 1) * WINDOW_MS for emit_ms, _, ltw in emitted]
    emit = [emit_ms - trigger_start[bid] for emit_ms, bid, _ in emitted]
    backlog = [
        RATE * (_epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"] - start_ms) / 1000
        - int(p["sources"][0]["endOffset"]) * RATE
        for p in timed
    ]
    mismatched, checked = check_windows(spark, ctx.seed, start_ms, progress, sink)
    dropped = sum(
        o["numRowsDroppedByWatermark"] for p in progress for o in p.get("stateOperators", ())
    )
    failures = {}
    if error:
        failures["query"] = str(error)[:300]
    if mismatched:
        failures["windows"] = f"{mismatched} of {checked} windows differ from the recomputation"
    if dropped:
        failures["watermark"] = f"{dropped} rows dropped by the watermark"
    if not lat:
        failures["latency"] = "no window was emitted during the timed part"
    if max(backlog, default=0) > 2 * RATE:
        failures["backlog"] = f"backlog reached {max(backlog):.0f} rows (> 2 s of input)"

    tail_p = tail_percentile(len(lat))
    # CPU per second of input, so that a micro-batch that runs late and
    # takes more rows into the next one does not count twice.
    input_s = sum(p["numInputRows"] for p in timed) / RATE
    result = {
        "workload": name,
        "attempted": len(progress) + checked,
        "failed": (1 if error else 0) + mismatched + (1 if dropped else 0)
        + (1 if not lat else 0) + (1 if "backlog" in failures else 0),
        "failures": failures,
        "rate_rows_per_s": RATE,
        "source_start_phase_ms": start_ms % 1000,
        "timed_batches": len(timed),
        "trigger_ms": [p["durationMs"]["triggerExecution"] for p in progress],
        "trigger_to_emit_p50_ms": statistics.median(emit) if emit else 0.0,
        "latency_samples": len(lat),
        "latency_tail_percentile": tail_p,
        "inputs": {"rows": int(progress[-1]["sources"][0]["endOffset"]) * RATE,
                   "seed": ctx.seed, "keys": KEYS, "ports": PORTS},
        "host": host,
        "end_to_end": {
            "result_ms": statistics.median(lat) if lat else 0.0,
            "cpu_s": host["own_cpu_s"] / input_s,
            "retained_mb": retained,
        },
    }
    if tracer.enabled:
        for p in timed:
            end = _epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
            span = tracer.add_wall(f"batch {p['batchId']}", _epoch_ms(p["timestamp"]), end,
                                   rows=p["numInputRows"])
            cursor = _epoch_ms(p["timestamp"])
            for phase, ms in p["durationMs"].items():
                if phase != "triggerExecution":
                    tracer.add_wall(phase, cursor, cursor + ms, parent=span)
                    cursor += ms
        per_layer = {
            f"spark.{k}": counts[k]
            for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                      "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "skew_max_med")
        }
        per_layer["spark.busy_cores"] = counts["exec_run_s"] / host["wall_s"]
        per_layer.update(progress_metrics(timed))
        per_layer["sources.input_rows"] = float(sum(p["numInputRows"] for p in timed))
        per_layer["sources.input_mb"] = counts["input_mb"]
        per_layer["sources.backlog_rows_max"] = max(backlog, default=0.0)
        per_layer["sink.emit_ms"] = 1e3 * statistics.median(sink.cost_s)
        per_layer["sink.emit_lat_tail_ms"] = percentile(lat, tail_p) if lat else 0.0
        per_layer["sink.trigger_to_emit_ms"] = statistics.median(emit) if emit else 0.0
        result["per_layer"] = per_layer
    return result


def check_windows(spark, seed: int, start_ms: int, progress: list[dict], sink: Sink):
    """Recompute every window from the same generated rows in batch and
    compare with what the sink received. A window must be emitted once,
    exactly when its end is at or below the watermark of the last
    completed micro-batch, with the recomputed min count. Returns
    (mismatched windows, windows checked)."""
    committed = {p["batchId"] for p in progress}
    emitted: dict[tuple, list[int]] = {}
    for bid, (_, rows) in sink.batches.items():
        if bid in committed:
            for key, ltw, cnt in rows:
                emitted.setdefault((key, ltw), []).append(cnt)
    n_rows = int(progress[-1]["sources"][0]["endOffset"]) * RATE
    watermark_ms = _epoch_ms(progress[-1]["eventTime"]["watermark"])
    v = F.col("id")
    counts = (
        spark.range(n_rows)
        .select(*mapped_events(v, rate_ts_ms(v, start_ms), seed))
        .groupBy(
            F.col("event_type").alias("key"),
            F.floor(F.col("ts") / (WINDOW_MS * 1_000_000)).alias("ltw"),
            (F.col("user_id") % PORTS).alias("port"),
        )
        .count()
        .collect()
    )
    per_port: dict[tuple, dict[int, int]] = {}
    for r in counts:
        per_port.setdefault((r.key, r.ltw), {})[r.port] = r["count"]
    expected = {
        k: min(c.values())
        for k, c in per_port.items()
        if len(c) == PORTS and (k[1] + 1) * WINDOW_MS <= watermark_ms
    }
    mismatched = sum(
        1 for k, want in expected.items() if emitted.get(k) != [want]
    ) + sum(1 for k in emitted if k not in expected)
    return mismatched, len(expected)
