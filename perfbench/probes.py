"""Measurements taken from outside the engine.

- ``tree_cpu_s``: CPU-seconds of this process and every descendant
  (driver Python, driver JVM, Python workers), read from procfs.
- ``HostSample``: host-wide busy and steal time from ``/proc/stat``, so
  a run can report how much CPU other tenants used while it measured.
- ``StatusDelta``: jobs, stages, tasks and their metrics from Spark's
  own status store, for the jobs started since the last ``mark``.
- ``retained_mb``: JVM heap in use after a full GC plus block-manager
  storage still held.
"""

from __future__ import annotations

import gc
import os
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User + system CPU of ``root_pid`` and all live descendants, plus
    what already-reaped children left in their parents' counters."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while we listed
        fields = raw[raw.rindex(")") + 2:].split()
        pid = int(entry)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    ticks = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        fields = stats.get(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
        todo.extend(children.get(pid, ()))
    return ticks / TICK


@dataclass
class HostSample:
    busy_s: float
    steal_s: float
    own_cpu_s: float
    t: float

    @classmethod
    def take(cls) -> "HostSample":
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal ...
        busy = cpu[0] + cpu[1] + cpu[2] + cpu[5] + cpu[6]
        return cls(busy / TICK, cpu[7] / TICK, tree_cpu_s(), time.perf_counter())

    def since(self, start: "HostSample") -> dict[str, float]:
        own = self.own_cpu_s - start.own_cpu_s
        return {
            "wall_s": self.t - start.t,
            "own_cpu_s": own,
            "steal_s": self.steal_s - start.steal_s,
            "foreign_cpu_s": max(0.0, self.busy_s - start.busy_s - own),
        }


def drain_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """The status store is fed asynchronously; wait until it has seen
    every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


STAGE_FIELDS = (
    "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "input_mb",
    "input_rows", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


class StatusDelta:
    """Counts from the status store for jobs started after ``mark()``.

    Jobs get consecutive ids, so the jobs since a mark are read one by
    one from the mark's next id until the store has no such job."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.next_job = 0
        self.mark()

    def _job_ids_from(self, first: int) -> list[int]:
        ids = []
        job = first
        while True:
            try:
                self.store.job(job)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return ids
            ids.append(job)
            job += 1

    def mark(self) -> None:
        drain_listener_bus(self.spark)
        ids = self._job_ids_from(self.next_job)
        if ids:
            self.next_job = ids[-1] + 1

    def collect(self, skew: bool = False) -> dict[str, float]:
        """Totals for the jobs since the last mark, then mark again.
        With ``skew``, also max over median task shuffle-read records
        on the stage that read the most shuffle bytes."""
        drain_listener_bus(self.spark)
        jobs = self._job_ids_from(self.next_job)
        if jobs:
            self.next_job = jobs[-1] + 1
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = float(len(jobs))
        widest = None
        seen = set()
        for job in jobs:
            for stage_id in _seq(self.store.job(job).stageIds()):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    s = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                read = s.shuffleReadBytes()
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["exec_run_s"] += s.executorRunTime() / 1e3
                out["exec_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_mb"] += s.inputBytes() / 2**20
                out["input_rows"] += s.inputRecords()
                out["shuffle_read_mb"] += read / 2**20
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                if read and (widest is None or read > widest[0]):
                    widest = (read, stage_id, s.attemptId())
        if skew:
            out["skew_max_med"] = self._skew(widest)
            out["widest_read_mb"] = widest[0] / 2**20 if widest else 0.0
        return out

    def _skew(self, widest) -> float:
        if widest is None:
            return 0.0
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = self.store.taskSummary(widest[1], widest[2], quantiles)
        if summary.isEmpty():
            return 0.0
        records = _seq(summary.get().shuffleReadMetrics().readRecords())
        return records[1] / records[0] if records[0] else 0.0


def retained_mb(spark) -> float:
    """JVM heap in use after a full GC, plus block-manager storage on
    disk (blocks in memory are part of the heap already). Python's
    collector runs first, so that py4j releases the JVM objects Python
    no longer references; the JVM then collects until three readings
    in a row agree within 1%, because what Spark's ContextCleaner drops
    after one collection is only freed by a later one."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    readings: list[int] = []
    while len(readings) < 10:
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append(runtime.totalMemory() - runtime.freeMemory())
        if len(readings) >= 3 and max(readings[-3:]) < 1.01 * min(readings[-3:]):
            break
    used = readings[-1]
    disk = sum(
        info.diskSize() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    return (used + disk) / 2**20
