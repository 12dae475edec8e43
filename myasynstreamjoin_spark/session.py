"""SparkSession factory and session preparation.

Design notes for scale (local[32] here, 1000-executor cluster target):
- AQE on: runtime partition coalescing, skew-join splitting, and
  broadcast-join demotion replace the reference's hand-rolled adaptive
  partitioners (SURVEY.md §2.3 X5-X12).
- Two widths, two confs. A batch exchange starts at the BATCH width,
  ``spark.sql.shuffle.partitions`` (the core count by default; AQE's
  ``coalescePartitions.initialPartitionNum`` where a deployment sets
  it), and AQE coalesces it from there. A stateful stream takes the
  STATE width, Spark's stateful-operator width
  ``spark.sql.streaming.internal.stateStore.partitions``, and locks it
  into its checkpoint. The state width follows
  ``replay_state_partitions``: 1 partition with no input, about one more
  per 64 MB. Every state partition pays its own state-store update and
  commit per micro-batch, and the reference balanced its reducers' load
  rather than maximizing their count (``n_reducers = 2``,
  stream.json:6-7). ``batch_width`` reads the batch width;
  ``override_widths`` is the one way to change either width for a
  stretch of work.
- UTC session timezone so timestamp arithmetic agrees with the DuckDB
  oracle (naive UTC timestamps).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: robustness flag for
  TIMESTAMP(NANOS) parquet (which Spark 4 otherwise refuses to read) —
  with it, a nanos column surfaces as BIGINT epoch-ns. The engine does
  NOT depend on the parquet physical type: the driver currently ships
  ``events.ts`` as timestamp[us], and ``sources.tables.normalize_epoch_ns``
  converts whatever arrives to the engine's BIGINT epoch-ns time model
  (the reference's BigInt epoch timestamps,
  state/cluster/naive/HashJoin.scala:50) at the load boundary.
- Arrow enabled for the Pandas-UDF slow paths (similarity, multimodal).
- A codegen cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark's whole-stage code generator keeps
  its compiled classes in one LRU per JVM, 100 entries by default. One
  pass of perfbench's 10 headline queries cycles through 135 distinct
  classes, so an LRU of 100 hardly ever hit: every warm pass compiled
  (and the JIT re-compiled) 127-129 classes again. bench.py's 34
  headliners cycle through ~490. The cap is a static conf, read once
  per JVM, so only ``get_spark`` can set it: a session the harness
  builds itself keeps Spark's 100, and ``prepare_session`` does not try
  to set it (the warning would fire on every such session and change
  nothing).
"""

from __future__ import annotations

import contextlib
import os
import sys
import warnings
import weakref

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

# SQL configs applied to any session that runs engine queries. All of
# these are runtime-settable (SQLConf), so they also work on a session
# the test driver created for us.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batch row count for Pandas-UDF paths: multimodal rows
    # carry opaque binary payloads, and the default 10k-row batches
    # would hand a Python worker multi-GB chunks for media columns.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # Streaming state: evict eagerly on watermark (default, made explicit).
    "spark.sql.streaming.statefulOperator.allowMultiple": "true",
    # Trust the within-bucket sort order of bucketed tables when (and
    # only when) each bucket is a SINGLE file — Spark 3.0 stopped
    # exposing bucketed-scan outputOrdering by default because
    # multi-file buckets can't guarantee it; with this on, the check
    # is still per-table (files-per-bucket == 1). write_bucketed
    # consumers that pre-place one file per bucket (the graph edge
    # table since round 10) get sort-FREE sort-merge joins on the
    # bucket key: the per-iteration edge-side sort this elides was
    # the UnsafeExternalSorter that OOM'd PageRank's shuffle-join
    # fallback at 957 M edges (SCALEPROBE_r09_crossover_sf40).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Write offset logs, commit logs and state-store deltas through the
    # Hadoop FileSystem API. The default FileContext manager on a local
    # file: path without libhadoop forks `readlink` per rename
    # (getFileLinkStatus → FileUtil.readLink): ~200 child processes
    # and ~285 ms of state commit per micro-batch of a 4-partition
    # windowed stream on a 4-core box (~45 and ~15 ms with this
    # manager). The swap is safe:
    # - local file: paths: both managers check-then-rename;
    #   DelegateToFileSystem does not override the 3-arg
    #   renameInternal, so FileContext's rename there is
    #   AbstractFileSystem's non-atomic default too;
    # - HDFS: DistributedFileSystem.rename is atomic and fails when the
    #   destination exists, which this manager turns into
    #   FileAlreadyExistsException, so a second writer still loses;
    # - checksums: Hadoop's .crc files and Spark's own checkpoint
    #   checksums are written exactly as before.
    # The chmod forked per file create needs libhadoop to go away; it
    # stays. A runtime SQL conf, read from the session's Hadoop conf
    # when a query starts, so a harness-built session gets it from
    # prepare_session.
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def _set_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    """Set each conf; one the deployment refuses (a static conf, a
    locked-down Connect server) is warned about by key and skipped, so
    a lost engine default leaves a trace instead of a silent change."""
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except PySparkException as exc:
            warnings.warn(f"could not set {k}={v}: {exc}", RuntimeWarning, stacklevel=3)


# Executor-memory sizing for the GRAPH family (operator documentation
# distilled from the sf3/sf10ish probe campaigns, SCALEPROBE_r05/r06 +
# round 7):
# - Edge-grain iterative ops (pagerank_edges, triangle_count_edges)
#   complete at the default 8 g single-JVM heap even at 239 M edges —
#   their per-round working set is fixed-width aggregation state that
#   spills (60-113 GiB absorbed, zero failures), PROVIDED edge-grain
#   loop invariants checkpoint with DISK_ONLY blocks
#   (graph.py::_ckpt_edge_grain; default-storage localCheckpoint of an
#   edge-grain frame buffers per-task block arrays on heap and was the
#   round-6 OOM).
# - label_propagation_edges needed 48 g before round 7; its rewrite
#   (broadcast node-grain labels below broadcast_nodes_max=8 M +
#   packed-BIGINT argmax instead of struct max_by) completes sf10ish
#   at the default 8 g in 74 s with zero edge shuffle. Above the node
#   threshold the shuffle-join fallback engages, where per-EXECUTOR
#   heap bounds the working set on a real cluster — size executors at
#   ~4-8 GiB per 250 M edges of per-round join state, or raise
#   broadcast_nodes_max if executors can hold |V| × 16 B broadcast.
# - The single shared local[32] heap is the sandbox artifact: on a
#   real cluster every executor brings its own heap, so these numbers
#   are per-executor, not per-job.

# Micro-batch TRIGGER SIZING (operator documentation): every streaming
# kernel pays a roughly volume-independent per-batch fixed cost. The
# windowed min-count on an open-loop 16 k rows/s stream, 1 s trigger,
# 1 state partition (the session's state width), local[4] on a 4-core
# box, spends ~290 ms per trigger: addBatch ~245 ms (state update
# ~20 ms, state commit ~2 ms), planning ~25 ms, offset and commit logs
# ~20 ms. At 4 state partitions the same trigger, measured in the same
# hour, took ~360 ms: state update ~145 ms and state commit ~19 ms
# summed over the partitions, 8 tasks per trigger instead of 5. With a
# `readlink` fork per checkpoint rename (before
# checkpointFileManagerClass above) a 4-partition trigger spent ~285 ms
# in state commit and ~55 ms in logs alone. The foreachBatch kernels add their index read/union/write and
# checkpoint-block release on top (the sf10ish stream twins' 36-41 s
# were trigger-bound, not volume-bound).
# Amortize it by sizing triggers in RECORDS, not wall time:
# - target >= 1 M events (or >= 100 MB parquet input) per micro-batch
#   for the stateless/windowed kernels — below that the fixed cost
#   dominates and throughput scales with trigger RATE, not data;
# - the versioned-index kernels (stream line/span/near-dup) also
#   rewrite their index per batch, so batches should be large enough
#   that the delta is a meaningful fraction of the index (>= 1%) —
#   otherwise switch the index to partitioned appends + manifest (the
#   documented 100 TB posture in each kernel's module docstring);
# - concretely: maxFilesPerTrigger / maxOffsetsPerTrigger sized to
#   ~1-4 GB of input per 32 cores keeps the fixed cost under ~5% of
#   batch wall. Latency-sensitive pipelines trade the other way —
#   that's a product decision, not an engine default, so no conf here.

# Opt-in confs for LONG-RUNNING / LARGE-STATE streaming deployments.
# Not in SESSION_CONFS because the default HDFS-backed provider is
# faster for the finite local replays the tests and bench run (RocksDB
# pays JNI + compaction overhead per micro-batch); at 100 TB the
# trade inverts: RocksDB keeps state off-heap and spills to local disk,
# so executor memory bounds working set, not total state, and changelog
# checkpointing ships deltas instead of full snapshots.
STREAMING_SCALE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def prepare_streaming_scale(spark: SparkSession) -> SparkSession:
    """Apply the large-state streaming confs (RocksDB state store +
    changelog checkpointing). Call before ``writeStream.start()`` on a
    production deployment; the provider is locked into the checkpoint
    at query start. Verified against the HDFS-backed default by
    tests/test_streaming.py::test_rocksdb_state_store_equivalence."""
    _set_confs(spark, STREAMING_SCALE_CONFS)
    return spark


# Sessions whose SESSION_CONFS were already applied: every driver-facing
# query calls prepare_session, and the 12 conf.set round trips cost
# ~3.8 ms/call — ~0.4 s across a 3-pass bench invocation (round 12,
# guide §7.3 driver-side work). The confs are static engine settings;
# applying them once per session is the contract. Weak so a dropped
# session releases its entry. Escape hatch: ``force=True`` re-applies
# (for a caller that deliberately mutated a SESSION_CONF and wants the
# engine defaults back).
_PREPARED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


# The two widths (module docstring). SQLConf.numShufflePartitions plans
# a batch exchange at BATCH_WIDTH while AQE coalescing is on and that
# conf is set, else at SHUFFLE_WIDTH. A fresh streaming query records
# STATE_WIDTH (or SHUFFLE_WIDTH when it is unset) in its offset log as
# its stateful operators' partition count, and a restart restores it
# from there while SHUFFLE_WIDTH keeps serving the batch work inside
# foreachBatch (both checked on Spark 4.1.2). STATE_WIDTH is marked
# internal in SQLConf, but it is the only conf that separates the two:
# with SHUFFLE_WIDTH as the state width, every batch plan of a session
# with AQE coalescing off ran at 1 partition. Were a later Spark to drop
# it, streams would fall back to the batch width, not fail.
SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"
BATCH_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
STATE_WIDTH = "spark.sql.streaming.internal.stateStore.partitions"

# Entries of Spark's codegen cache (module docstring). Measured working
# sets on local[4]: 135 classes for perfbench's 10 headline queries at
# sf0.01, ~490 for bench.py's 34 at sf0.1; 1000 holds the larger twice
# over. An entry costs ~20 KB of retained heap (the generated source,
# its bytecode stats and the loaded class) plus ~10 KB of metaspace,
# measured as the drop after invalidating 490 entries, so the cap
# bounds the cache at ~30 MB per JVM. A class whose source embeds a
# per-run value (a stream's watermark literal) misses at any size.
CODEGEN_CACHE_ENTRIES = 1000


def replay_state_partitions(
    spark: SparkSession, input_bytes: int, floor: int = 1
) -> int:
    """The state width rule: ~1 partition per 64 MB of input, floored
    at ``floor`` and capped at the scheduler parallelism. Each state
    partition pays its own state-store update and commit per
    micro-batch, so small inputs keep one partition (the open-loop
    stream benchmark spent ~25 % less CPU per input second at 1 than at
    4 on local[4]), while a 10 GB replay gets ~160 partitions (capped),
    so a large stream is never serialized onto one task. ``get_spark``
    sets the session's state width from it with no input;
    ``run_stream_to_table`` and ``run_stream_to_parquet`` size each
    replay from its input."""
    cap = spark.sparkContext.defaultParallelism
    return max(floor, min(cap, int(input_bytes) // (64 << 20)))


def _batch_width_conf(spark: SparkSession) -> str:
    """The conf that governs the batch width of this session."""
    # No default argument: get(key, default) answers ``default`` for an
    # unset key, not Spark's own default.
    get = spark.conf.get
    if (
        get("spark.sql.adaptive.enabled").lower() == "true"
        and get("spark.sql.adaptive.coalescePartitions.enabled").lower() == "true"
    ):
        return BATCH_WIDTH
    return SHUFFLE_WIDTH


def batch_width(spark: SparkSession) -> int:
    """The partition count Spark plans a batch exchange at (before AQE
    coalesces it): what a data-proportional width rule compares itself
    against. Mirrors SQLConf.numShufflePartitions, so it is also right
    on a harness-built session with AQE off or no initial width."""
    return int(spark.conf.get(_batch_width_conf(spark)) or spark.conf.get(SHUFFLE_WIDTH))


@contextlib.contextmanager
def override_widths(
    spark: SparkSession, *, batch: int | None = None, state: int | None = None
):
    """Set the batch and/or state width for the body of the ``with``
    and restore the session's values on exit (an unset conf is unset
    again). A stream locks its state width in at ``start()``, so a
    state override need only cover the start; a batch plan reads its
    width when it is planned, so a batch override must cover the jobs
    it is meant for. The override is session-wide while it lasts."""
    confs: dict[str, int] = {}
    if batch is not None:
        confs[_batch_width_conf(spark)] = batch
    if state is not None:
        confs[STATE_WIDTH] = state
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def prepare_session(
    spark: SparkSession,
    shuffle_partitions: int | None = None,
    force: bool = False,
) -> SparkSession:
    """Apply the engine's runtime SQL confs to an existing session.

    Called by every driver-facing query so the contract works even when
    the harness constructs its own SparkSession. Applied ONCE per
    session (tracked weakly): SESSION_CONFS are static, so re-applying
    them per query construction was pure py4j overhead inside the
    bench's timed region. A caller that intentionally overrides one of
    SESSION_CONFS mid-session owns that override from then on (the
    engine will not silently repair it per query; pass ``force=True``
    to re-apply the engine defaults).

    Widths are deliberately NOT adjusted unless the caller asks:
    measured on a vanilla low-core session, the stock 200 + AQE
    coalescing beat a slots-proportional setting on shuffle-heavy
    queries (finer map-side splits, AQE shrinks the rest) — resist the
    folk fix of downsizing it on behalf of the session owner.
    ``shuffle_partitions`` sets ``spark.sql.shuffle.partitions``, the
    batch width of a session without an AQE initial width.
    """
    try:
        seen = spark in _PREPARED
        if not seen:
            _PREPARED.add(spark)
    except TypeError:  # not weak-referenceable: apply every time
        seen = False
    if force or not seen:
        _set_confs(spark, SESSION_CONFS)
    if shuffle_partitions is not None:
        spark.conf.set(SHUFFLE_WIDTH, str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "myasynstreamjoin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` threads. The batch
    width (``spark.sql.shuffle.partitions``) is ``shuffle_partitions``
    when given, else the core count — the 200 default over-parallelizes
    small local runs and under-parallelizes a real cluster; both are
    corrected by AQE coalescing once the base number is sane. The state
    width comes from ``replay_state_partitions`` with no input: 1
    partition, which the finite replays widen from their input size.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(SHUFFLE_WIDTH, str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # static: CodeGenerator reads it once per JVM, so it goes on the
        # builder, not in SESSION_CONFS
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in SESSION_CONFS.items():
        builder = builder.config(k, v)
    # Probe/ops escape hatch: SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" lets a
    # harness inject static confs (e.g. spark.io.compression.codec=zstd
    # for shuffle-heavy graph probes) without a code edit per run.
    # Every injected conf is echoed to stderr (and malformed segments
    # warned about) so a stray environment variable can't SILENTLY
    # alter engine semantics in a correctness/driver session — the
    # override is visible in the run output (round-11 advice).
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if not pair.strip():
            continue
        if "=" in pair:
            k, v = pair.split("=", 1)
            print(
                f"# SPARK_GRAFT_EXTRA_CONFS: {k.strip()}={v.strip()}",
                file=sys.stderr,
            )
            builder = builder.config(k.strip(), v.strip())
        else:
            print(
                "# SPARK_GRAFT_EXTRA_CONFS: WARNING malformed segment "
                f"{pair!r} (expected k=v) — ignored",
                file=sys.stderr,
            )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare_session(spark, shuffle_partitions)
    spark.conf.set(STATE_WIDTH, str(replay_state_partitions(spark, 0)))
    return spark
