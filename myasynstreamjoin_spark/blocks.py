"""Checkpoint-block discipline shared by the iterative operators and
the per-batch streaming kernels.

Two primitives:

- ``ckpt_disk(df)`` — eager localCheckpoint on DISK_ONLY blocks, for
  any frame whose GRAIN scales with the corpus (edges, grams, tokens,
  lines, events). Default-storage checkpoint blocks buffer per-task
  arrays on heap while writing (the round-6 graph OOM) and later
  participate in memory eviction, which is what turned the
  ContextCleaner's GC-timed block retirement into a crash under
  accumulated multi-batch pressure (round-7 streaming-e2e failure:
  FileNotFound on a half-dropped block, fatal under local mode's
  single task attempt). Disk blocks are written once and never
  re-evicted. Node/doc-grain frames stay on the default level — small
  and re-read hot.

- ``persisted_ids(spark)`` / ``release_blocks(spark, before)`` — REAL
  deterministic end-of-batch cleanup. ``DataFrame.unpersist()`` is a
  silent no-op for localCheckpoint blocks (verified on PySpark 4.1.2:
  it goes through the CacheManager, which only tracks
  ``df.persist()``-style cached plans, never the RDD-level
  checkpoint storage), so freeing them needs the RDD handles from
  ``JavaSparkContext.getPersistentRDDs``. A batch snapshots the live
  ids at entry and releases everything NEW when it ends — which also
  sweeps checkpoints made INSIDE library calls (the span election's
  internal one, a caller's post-kernel gates), without each site
  having to thread handles around. Blocks persisted before the
  snapshot (static benchmark frames, prebuilt tables) are untouched.

- ``batch_scope(spark)`` — the safe wrapper around the pair. The raw
  snapshot/diff release frees EVERY RDD persisted context-wide since
  the snapshot, not just the calling kernel's own; if two streaming
  queries (or any concurrent job) shared the SparkSession, batch A's
  commit would release batch B's in-flight localCheckpoint blocks and
  truncate B's lineage irrecoverably — the exact FileNotFound crash
  class this module exists to fix. ``batch_scope`` therefore holds a
  per-context lock for the whole snapshot→release window, SERIALIZING
  concurrent batch bodies on the same SparkContext instead of letting
  them corrupt each other. One lock per applicationId, re-entrant
  (a kernel may call a library op that opens its own inner scope; the
  inner release only sweeps ids newer than its own snapshot, which is
  always safe under the outer scope).

CONSTRAINT (enforced by the lock, documented here for anyone calling
``persisted_ids``/``release_blocks`` directly): at most one
snapshot→release window may be open per SparkContext at a time.
Direct callers outside ``batch_scope`` get no such protection.

Releasing a locally-checkpointed RDD's blocks truncates its lineage
irrecoverably — only call ``release_blocks`` at a point where the
batch's every sink has already materialized (``drain_foreach_batch``
writes a batch's commit inside its scope, before the release).

``static_checkpoint(df)`` covers the one frame a stream checkpoints
OUTSIDE any batch scope — a static side every micro-batch reads — and
releases exactly its blocks when the drain returns or raises.
"""

from __future__ import annotations

import functools
import threading
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def ckpt_disk(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint on DISK_ONLY blocks (corpus-grain rule)."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def persisted_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently holding persisted/checkpointed
    blocks in this context."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_blocks(
    spark: SparkSession, before: set[int], blocking: bool = True
) -> int:
    """Unpersist every RDD persisted since ``before`` (a
    ``persisted_ids`` snapshot). Returns how many were released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for k in jmap.keySet().toArray():
        if int(k) not in before:
            jmap.get(k).unpersist(blocking)
            released += 1
    return released


def release_ids(
    spark: SparkSession, ids: set[int], blocking: bool = True
) -> int:
    """Unpersist exactly the RDDs in ``ids`` (ignoring ids that are no
    longer persisted). For iterative operators that retire iteration
    i's checkpoint blocks once iteration i+1 has materialized, where
    the since-snapshot diff would also sweep the NEW checkpoint."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(blocking)
            released += 1
    return released


#: one re-entrant batch lock per SparkContext (keyed by applicationId —
#: stable for the context's lifetime, new context → new lock)
_BATCH_LOCKS: dict[str, threading.RLock] = {}
_BATCH_LOCKS_GUARD = threading.Lock()


def _batch_lock(spark: SparkSession) -> threading.RLock:
    key = spark.sparkContext.applicationId
    with _BATCH_LOCKS_GUARD:
        return _BATCH_LOCKS.setdefault(key, threading.RLock())


def batch_lock(spark: SparkSession) -> threading.RLock:
    """The context's re-entrant batch lock, for operators that manage
    their own snapshot/diff windows (the iterative graph ops release
    iteration i's checkpoint once iteration i+1 materializes — their
    id diffs need the same no-concurrent-persist guarantee
    ``batch_scope`` gets). Re-entrant: safe to take inside an
    enclosing ``batch_scope`` on the same thread."""
    return _batch_lock(spark)


@contextmanager
def batch_scope(
    spark: SparkSession, blocking: bool = True
) -> Iterator[set[int]]:
    """Serialize a snapshot→release window against every other scope
    on the same SparkContext, snapshot the persisted ids, and release
    everything persisted inside the block when it exits.

    Release runs in ``finally``: on an exception the batch's sinks did
    not commit, the retry recomputes from source, and nothing
    references the failed attempt's blocks — releasing them prevents
    the leak instead of risking anything. Yields the snapshot for
    kernels that also want a mid-scope ``release_blocks`` of their own
    (idempotent with the exit sweep — unpersisting twice is a no-op).
    """
    lock = _batch_lock(spark)
    lock.acquire()
    try:
        before = persisted_ids(spark)
        try:
            yield before
        finally:
            release_blocks(spark, before, blocking)
    finally:
        lock.release()


@contextmanager
def static_checkpoint(df: DataFrame) -> Iterator[DataFrame]:
    """Eager localCheckpoint of ``df`` for a frame that outlives every
    batch scope (the static side each micro-batch of a stream reads),
    released when the block exits or raises. The checkpoint runs under
    the batch lock, so the ids it releases are its own."""
    spark = df.sparkSession
    with _batch_lock(spark):
        before = persisted_ids(spark)
        out = df.localCheckpoint(eager=True)
        mine = persisted_ids(spark) - before
    try:
        yield out
    finally:
        release_ids(spark, mine)


def scoped_batch(fn: Callable) -> Callable:
    """Decorator form of ``batch_scope`` for ``foreachBatch``
    callbacks (``streaming.commits.drain_foreach_batch`` wraps every
    batch body in it): the whole body runs inside one scope, so its
    checkpoint blocks are released exactly once per batch and never
    while another scope on the same context is mid-flight."""

    @functools.wraps(fn)
    def wrapper(batch_df: DataFrame, batch_id: int):
        with batch_scope(batch_df.sparkSession):
            return fn(batch_df, batch_id)

    return wrapper
