"""Parquet table loaders for the driver's deterministic test tables.

The reference's only source is a Kafka direct stream of packed text
records (stateless/cluster/HashJoin.scala:64-65); this engine's batch
source is columnar parquet (pushdown + pruning for free), with the
Kafka/text grammar preserved in :mod:`fixtures` as a codec and in
:mod:`myasynstreamjoin_spark.streaming` as a streaming source.
"""

from __future__ import annotations

import hashlib
import os
import stat
import threading
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Engine time model: BIGINT epoch-nanoseconds, matching the reference's
# BigInt epoch timestamps (state/cluster/naive/HashJoin.scala:50). The
# driver's parquet physical type for these columns has drifted between
# regenerations (TIMESTAMP(NANOS) → timestamp[us]); the engine must not
# depend on the physical type, so these columns are normalized to
# epoch-ns at the load boundary — the ONLY place dtype is inspected.
EPOCH_NS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ntz_epoch_ns(col: str) -> str:
    """SQL expression: TIMESTAMP_NTZ wall clock → epoch-ns as UTC,
    INDEPENDENT of spark.sql.session.timeZone. A plain
    ``unix_micros(CAST(ntz AS TIMESTAMP))`` reinterprets the wall clock
    in the session tz (silently shifting epochs when a caller runs
    non-UTC); field extraction is tz-free on NTZ and exact
    (EXTRACT SECOND is DECIMAL with the full fractional part —
    0 mismatches vs the cast form under UTC, verified over the whole
    fixture)."""
    return (
        f"(unix_date(CAST({col} AS DATE)) * 86400000000L"
        f" + hour({col}) * 3600000000L + minute({col}) * 60000000L"
        f" + CAST(EXTRACT(SECOND FROM {col}) * 1000000 AS LONG)) * 1000"
    )


def normalize_epoch_ns(df: DataFrame, cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Normalize event-time columns to the engine's BIGINT epoch-ns.

    Accepts any physical encoding the driver has shipped so far:
    - BIGINT (TIMESTAMP(NANOS) parquet surfaced via ``nanosAsLong``, or
      an engine-written long column): passes through untouched.
    - TIMESTAMP_NTZ (timestamp[us] parquet, the current driver format):
      wall clock treated as UTC via tz-independent field extraction —
      exactly DuckDB's ``epoch_ns(ts)`` on naive timestamps, so oracle
      hashes are unchanged, and immune to a caller's session timezone.
    - TIMESTAMP (tz-aware): ``unix_micros`` directly (an instant needs
      no tz interpretation).

    Pure projection — no shuffle, stays in whole-stage codegen, and the
    column-pruned scan still reads only the referenced columns.
    """
    for c in cols:
        if c not in df.columns:
            continue
        dtype = df.schema[c].dataType
        if isinstance(dtype, T.TimestampNTZType):
            df = df.withColumn(c, F.expr(_ntz_epoch_ns(c)).cast("long"))
        elif isinstance(dtype, T.TimestampType):
            df = df.withColumn(c, (F.unix_micros(F.col(c)) * F.lit(1000)).cast("long"))
    return df


# One metadata cache for the driver tables: per SparkSession (weakly,
# so a discarded session frees its plans), per table path, one entry
# holding the file's identity (mtime_ns, size), its raw parquet schema,
# the normalized lazy DataFrame, and the stable temp-view name once
# ``table_view`` has registered one. Costs it removes from every warm
# construction, all driver-side and inside the timed region of every
# bench pass (guide §7.3): schema inference (~60 of the ~70 ms of a
# spark.read.parquet here: footer fetch + merge on the JVM), reader
# construction + file listing + normalize_epoch_ns (~28 ms per call,
# ~47 load_table calls per headline pass), and the view registration
# a spark.sql() string would otherwise pay per construction. A warm
# load_table/table_view call is an os.stat plus dict lookups, zero
# py4j calls.
#
# Only metadata is cached, never data, plans' results or rows: a
# DataFrame is a logical plan and a temp view a named one, so every
# action still scans the parquet. A regenerated file (the documented
# events.ts physical-type drift) changes mtime/size, so its entry is
# rebuilt, re-inferring the schema and re-deriving the normalization,
# and the superseded view is dropped: the cache stays bounded by live
# table count, not regeneration count. Directories are never cached
# (an overwritten part-file need not touch the directory mtime); the
# driver tables are single files, which is the safe case.
@dataclass
class _TableEntry:
    identity: tuple[int, int]  # (mtime_ns, size)
    schema: T.StructType  # raw parquet schema, before normalization
    frame: DataFrame  # normalized lazy DataFrame
    view: str | None = None  # temp view over ``frame``, once registered


_TABLES: "weakref.WeakKeyDictionary[SparkSession, dict[str, _TableEntry]]" = (
    weakref.WeakKeyDictionary()
)
# Serializes every cache mutation (entry rebuild, view registration) so
# two threads building queries on one session neither register a view
# over a superseded frame nor leak one; warm hits take no lock.
_TABLES_LOCK = threading.RLock()


def _file_identity(path: str) -> tuple[int, int] | None:
    """(mtime_ns, size) for a plain file; None for directories or
    anything stat cannot see (never cache those)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size) if stat.S_ISREG(st.st_mode) else None


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    return normalize_epoch_ns(spark.read.parquet(path), EPOCH_NS_COLUMNS.get(name, ()))


def _table_entry(spark: SparkSession, sf_dir: str, name: str) -> _TableEntry | None:
    """The cache entry for ``{sf_dir}/{name}.parquet``, rebuilt when the
    file's identity changed; None for an un-stat-able path."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    identity = _file_identity(path)
    if identity is None:
        return None
    entry = _TABLES.get(spark, {}).get(path)
    if entry is not None and entry.identity == identity:
        return entry
    with _TABLES_LOCK:
        per_session = _TABLES.setdefault(spark, {})
        entry = per_session.get(path)
        if entry is None or entry.identity != identity:
            if entry is not None and entry.view is not None:
                spark.catalog.dropTempView(entry.view)
            raw = spark.read.parquet(path)
            frame = normalize_epoch_ns(raw, EPOCH_NS_COLUMNS.get(name, ()))
            entry = per_session[path] = _TableEntry(identity, raw.schema, frame)
        return entry


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver tables from ``{sf_dir}/{name}.parquet``.

    Column pruning and predicate pushdown happen automatically: callers
    should select/filter on the returned DataFrame and let Catalyst
    push into the scan (verify with plans.explain.scan_report).

    Event-time columns are normalized to BIGINT epoch-ns here (see
    ``normalize_epoch_ns``) so every downstream operator sees one
    logical schema regardless of the parquet physical type.

    SHARED-PLAN CONTRACT (round-11 advice): repeated calls return the
    SAME DataFrame object per (session, file identity), so two loads of
    one table share expression IDs. A self-join of one driver table
    must alias each side first (``load_table(...).alias("a")``) or
    Spark raises AMBIGUOUS_SELF_JOIN — asserted by
    tests/test_schema_drift.py::test_load_table_self_join_via_alias.
    """
    entry = _table_entry(spark, sf_dir, name)
    if entry is None:
        return _read_table(spark, f"{sf_dir}/{name}.parquet", name)
    return entry.frame


def table_file_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The on-disk (pre-normalization) parquet schema of a driver table,
    from the same cache entry as ``load_table`` — for readers such as
    ``readStream`` that need an explicit schema without paying footer
    inference per call."""
    entry = _table_entry(spark, sf_dir, name)
    if entry is None:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return entry.schema


def rebalance(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism.

    Use before work-amplifying operators (shingle explode, per-row
    signature computation): scan partitioning follows *bytes*
    (maxPartitionBytes, row-group boundaries), so a small-on-disk input
    that fans out 100× downstream otherwise runs on a handful of tasks.
    The shuffle moves only the narrow input rows — cheap relative to
    the amplified work it parallelizes. At full scale this also evens
    out skewed file sizes.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Return the name of a temp view over ``load_table(spark, sf_dir,
    name)``, registering it on first use per (session, file identity).

    The returned name is stable for the life of the file identity, so
    SQL text built around it can be constructed with zero py4j calls
    on the warm path. Views are prefixed ``masj_`` and suffixed with
    a hash of the path and identity — they cannot collide with
    caller-owned views, and two sf_dirs used in one session never
    share one.
    """
    entry = _table_entry(spark, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    if entry is None:
        # Un-stat-able input (directory table): no identity to key on —
        # register a per-sf_dir name and refresh it every call.
        view = f"masj_{name}_{hashlib.md5(path.encode()).hexdigest()[:10]}"
        _read_table(spark, path, name).createOrReplaceTempView(view)
        return view
    if entry.view is None:
        with _TABLES_LOCK:
            entry = _table_entry(spark, sf_dir, name)  # current under the lock
            if entry.view is None:
                ident = hashlib.md5(repr((path, *entry.identity)).encode())
                view = f"masj_{name}_{ident.hexdigest()[:10]}"
                entry.frame.createOrReplaceTempView(view)
                entry.view = view
    return entry.view
