"""The replay-safe commit protocol of every ``foreachBatch`` stream in
this package: Structured Streaming's exactly-once recipe (a replayable
source plus an idempotent sink) as one small on-disk layout.

Layout under a stream's work dir:

- ``v{N}``: the state version micro-batch N wrote;
- ``b{N}``: micro-batch N's output, written in overwrite mode, so a
  redelivered batch replaces its own output instead of appending;
- ``s{N}.json``: a driver-side state snapshot taken after batch N,
  written to a dot-tmp file and renamed into place.

Rules:

- a ``v{N}`` or ``b{N}`` dir counts only once its ``_SUCCESS`` marker
  exists. Spark writes it last, so a crash mid-write leaves the dir
  invisible and the replay overwrites it;
- a (possibly replayed) batch N rebuilds from the newest committed
  version STRICTLY BELOW N. On first delivery that is simply the
  latest; on redelivery it skips the batch's own, possibly
  half-written, version and lands on the state the batch originally
  saw, so the replay reproduces the original output;
- the drain: ``checkpointLocation`` → ``processAllAvailable`` →
  ``stop`` in a ``finally``;
- each micro-batch body runs inside one ``blocks.batch_scope``: every
  block it persists is released when it returns or raises, and no
  other scope on the same SparkContext runs meanwhile.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from myasynstreamjoin_spark.blocks import scoped_batch

_SUCCESS = "_SUCCESS"
_VERSION_RE = re.compile(r"^v(\d+)$")
_BATCH_RE = re.compile(r"^b(\d+)$")
_SNAPSHOT_RE = re.compile(r"^s(\d+)\.json$")


def drain_foreach_batch(stream: DataFrame, checkpoint_dir: str, process) -> None:
    """Run a (bounded, for tests) stream through ``process`` to
    exhaustion and stop it, whatever ``process`` raises. Each call of
    ``process`` runs inside its own ``blocks.batch_scope``."""
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(scoped_batch(process))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _numbered(root: str, pattern: re.Pattern) -> list[tuple[int, str]]:
    """``(N, path)`` of every entry of ``root`` whose name matches
    ``pattern``, ascending by N (so ``b10`` sorts after ``b9``)."""
    if not os.path.isdir(root):
        return []
    found = []
    for name in os.listdir(root):
        m = pattern.match(name)
        if m:
            found.append((int(m.group(1)), os.path.join(root, name)))
    return sorted(found)


def is_committed(path: str) -> bool:
    """Whether ``path`` holds its ``_SUCCESS`` commit marker."""
    return os.path.exists(os.path.join(path, _SUCCESS))


def mark_committed(path: str) -> None:
    """Write ``path``'s own commit marker: for a dir whose contents are
    several datasets, each of which only marks itself. Call it after
    the last of them is written."""
    open(os.path.join(path, _SUCCESS), "w").close()


def version_dirs(root: str) -> list[tuple[int, str]]:
    """Every ``v{N}`` dir under ``root``, committed or not, by N."""
    return _numbered(root, _VERSION_RE)


def latest_version(root: str, below: int | None = None) -> int | None:
    """Highest committed version under ``root`` (optionally below a
    batch id), or None."""
    found = [
        v for v, path in version_dirs(root)
        if (below is None or v < below) and is_committed(path)
    ]
    return found[-1] if found else None


def replay_base_version(root: str, batch_id: int) -> int | None:
    """The version micro-batch ``batch_id`` rebuilds against: the
    highest committed version strictly below it."""
    return latest_version(root, below=int(batch_id))


def read_latest_version(spark: SparkSession, root: str) -> DataFrame | None:
    """The live state: the highest committed version, or None."""
    v = latest_version(root)
    if v is None:
        return None
    return spark.read.parquet(os.path.join(root, f"v{v}"))


def read_replay_base(
    spark: SparkSession, root: str, batch_id: int, schema
) -> DataFrame:
    """The state micro-batch ``batch_id`` rebuilds from (see
    ``replay_base_version``), or an empty frame of ``schema`` before
    the first commit."""
    v = replay_base_version(root, batch_id)
    if v is None:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(os.path.join(root, f"v{v}"))


def committed_batch_dirs(root: str) -> list[str]:
    """The committed ``b{N}`` dirs under ``root``, ascending by N."""
    return [p for _, p in _numbered(root, _BATCH_RE) if is_committed(p)]


def read_committed_batches(spark: SparkSession, root: str) -> DataFrame | None:
    """Union of the committed per-batch outputs under ``root``, or
    None if no batch has committed."""
    dirs = committed_batch_dirs(root)
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def load_snapshot_below(root: str, batch_id: int):
    """The newest JSON snapshot ``s{M}.json`` with M < ``batch_id``,
    decoded, or None."""
    below = [p for m, p in _numbered(root, _SNAPSHOT_RE) if m < batch_id]
    if not below:
        return None
    with open(below[-1]) as f:
        return json.load(f)


def save_snapshot(root: str, batch_id: int, state) -> None:
    """Write ``state`` as ``s{batch_id}.json``, atomically: a reader
    sees the old file set or the new one, never a torn snapshot."""
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".s{batch_id}.tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(root, f"s{batch_id}.json"))
