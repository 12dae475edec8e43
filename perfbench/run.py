"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 12 --trace 0

Runs one workload on ``local[4]`` in this process, checks its outputs
and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a human-readable record of the run. Everything a
run writes stays under ``.bench_build/perfbench`` in the checkout; see
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("batch_headline", "stream_open")
END_TO_END = {"result_ms": "ms", "cpu_s": "s", "retained_mb": "MB", "setup_s": "s"}
# Every traced run reports all of these; a layer a workload does not
# exercise reads 0 (see README.md for which apply where).
PER_LAYER = {
    "operators.construct_s": "s", "operators.execute_s": "s",
    "functions.construct_s": "s", "functions.execute_s": "s",
    "entry.construct_jobs": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.backlog_rows_max": "count",
    "blocks.persisted_n": "count", "blocks.release_s": "s",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.log_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.rows_dropped": "count", "streaming.replay_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.busy_cores": "cores",
    "spark.gc_s": "s", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.skew_max_med": "ratio",
    "sink.emit_ms": "ms", "sink.emit_lat_tail_ms": "ms", "sink.trigger_to_emit_ms": "ms",
    "host.steal_s": "s", "host.foreign_cpu_s": "s",
}
# The engine's finite stream replays checkpoint under /dev/shm
# (streaming.windowed._replay_checkpoint_dir) and leave the directory.
REPLAY_CKPT_GLOB = "/dev/shm/masj_ckpt_*"


class Context:
    """What a workload needs from the harness: its arguments, a scratch
    directory, the tracer, and the session start / set-up clock."""

    def __init__(self, args, work: str):
        from perfbench.spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = args.cores
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.setup_s = None

    def start_session(self):
        from myasynstreamjoin_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]")
        return self.spark

    def setup_done(self) -> None:
        """Set-up ends here: session start, inputs and warm-up."""
        self.setup_s = time.perf_counter() - T_START

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4,
                   help="local[N] master; 1 gives the single-threaded baseline")
    return p.parse_args(argv)


def prepare_environment(work: str, cores: int) -> None:
    """Keep every file Spark and the engine write inside ``work`` and
    let Python workers import the engine."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def describe_host(spark) -> dict:
    return {
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "nproc": int(subprocess.run(["nproc"], capture_output=True, text=True).stdout),
    }


def main(argv=None) -> int:
    args = parse(argv)
    # Turn SIGTERM into SystemExit so that the clean-up below still stops
    # the JVM and removes the run's files.
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    if os.environ.get("SPARK_GRAFT_EXTRA_CONFS"):
        print("perfbench: SPARK_GRAFT_EXTRA_CONFS is set; it would change the "
              "engine under test, refusing to run", file=sys.stderr)
        return 2
    engine = (os.path.join(ROOT, "__spark_entry__.py"),
              os.path.join(ROOT, "myasynstreamjoin_spark", "__init__.py"))
    if not all(os.path.isfile(p) for p in engine):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    prepare_environment(work, args.cores)
    from perfbench import batch, stream

    ckpts_before = set(glob.glob(REPLAY_CKPT_GLOB))
    ctx = Context(args, work)
    try:
        module = stream if args.workload == "stream_open" else batch
        result = module.run(ctx, args.workload)
        result["host"].update(describe_host(ctx.spark))
    finally:
        ctx.stop()
        for path in set(glob.glob(REPLAY_CKPT_GLOB)) - ckpts_before:
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    result["end_to_end"]["setup_s"] = ctx.setup_s
    result.update(seed=args.seed, seconds=args.seconds, trace=args.trace,
                  cores=args.cores, code=code_hash())
    if args.trace:
        layer = result["per_layer"]
        layer["host.steal_s"] = result["host"]["steal_s"]
        layer["host.foreign_cpu_s"] = result["host"]["foreign_cpu_s"]
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        result["tracing_overhead"] = tracing_overhead(result)
        ctx.tracer.write(os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {k: {"value": result["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    with open(os.path.join(BUILD, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    print("# " + json.dumps(result, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def code_hash() -> str:
    """SHA-256 over the benchmark's files and the engine's sources."""
    digest = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("perfbench", "myasynstreamjoin_spark"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            files += [os.path.join(d, n) for n in sorted(names) if not n.endswith(".pyc")]
    for path in files:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()[:16]


def tracing_overhead(traced: dict) -> dict[str, float] | str:
    """Traced minus untraced, per end-to-end metric, against the last
    untraced run in this checkout of the same workload, seed, core
    count and code; unavailable when there is no such run."""
    path = os.path.join(BUILD, f"last-{traced['workload']}-trace0.json")
    if not os.path.exists(path):
        return "unavailable: no untraced run of this workload in the checkout"
    with open(path) as f:
        plain = json.load(f)
    same = ("seed", "cores", "code")
    if any(plain.get(k) != traced[k] for k in same):
        return ("unavailable: the last untraced run differs in seed, cores or code; "
                f"run --trace 0 --seed {traced['seed']} first")
    diff = {k: traced["end_to_end"][k] - plain["end_to_end"][k] for k in END_TO_END}
    # One pair of runs: host steal in either run can outweigh the tracing.
    diff["host.steal_s"] = traced["host"]["steal_s"] - plain["host"]["steal_s"]
    return diff


if __name__ == "__main__":
    sys.exit(main())
