"""The replay-safe commit protocol (streaming/commits.py): numeric
batch order, strict name matching, the JSON snapshot rule, the batch
scope every drained micro-batch runs in, and the structural guard that
keeps the protocol in that one module."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

import pytest

from myasynstreamjoin_spark.blocks import batch_lock, ckpt_disk, persisted_ids
from myasynstreamjoin_spark.streaming.commits import (
    committed_batch_dirs,
    drain_foreach_batch,
    load_snapshot_below,
    mark_committed,
    save_snapshot,
)
from myasynstreamjoin_spark.streaming.windowed import stage_stream_file
from tests.conftest import code_nodes

STREAMING = Path(__file__).resolve().parent.parent / (
    "myasynstreamjoin_spark/streaming"
)


def test_committed_batches_sort_numerically_and_skip_other_names(tmp_path):
    for name in ("b10", "b9", "b2", "bx", "b3.tmp", "batch", "vb4", "b-5"):
        (tmp_path / name).mkdir()
        mark_committed(str(tmp_path / name))
    assert [Path(p).name for p in committed_batch_dirs(str(tmp_path))] == [
        "b2", "b9", "b10",
    ]


def test_snapshot_loader_takes_newest_strictly_below(tmp_path):
    root = str(tmp_path)
    for n in (1, 3, 5):
        save_snapshot(root, n, {"n": n})
    # a torn write of s4: never renamed into place
    (tmp_path / ".s4.tmp").write_text("{not json")
    assert load_snapshot_below(root, 1) is None
    assert load_snapshot_below(root, 5) == {"n": 3}
    assert load_snapshot_below(root, 6) == {"n": 5}


ENGINE = [
    *sorted(STREAMING.glob("*.py")),
    STREAMING.parents[1] / "__spark_entry__.py",
]
# the on-disk version layout's own names
LAYOUT_NAMES = {
    "replay_base_version", "latest_version", "version_dirs", "mark_committed",
}


def _protocol_code(node) -> str | None:
    """What ``node`` knows of the commit protocol: the commit marker,
    the drain (``foreachBatch``, ``processAllAvailable``), a layout
    name import, or a ``v{…}``/``b{…}`` dir name built by f-string."""
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "_SUCCESS" in node.value
    ):
        return "_SUCCESS"
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("foreachBatch", "processAllAvailable")
    ):
        return node.func.attr
    if isinstance(node, ast.alias) and node.name in LAYOUT_NAMES:
        return f"import {node.name}"
    if (
        isinstance(node, ast.JoinedStr)
        and len(node.values) == 2
        and isinstance(node.values[0], ast.Constant)
        and node.values[0].value in ("v", "b")
        and isinstance(node.values[1], ast.FormattedValue)
    ):
        return f'f"{node.values[0].value}{{…}}"'
    return None


def test_only_commits_module_knows_the_protocol():
    found = [
        f"{path.name}:{node.lineno} {code}"
        for path in ENGINE
        if path.name != "commits.py"
        for node in code_nodes(ast.parse(path.read_text()))
        if (code := _protocol_code(node))
    ]
    assert not found, "protocol code outside commits.py:\n" + "\n".join(found)


def _drain(spark, tmp_path, process) -> None:
    """Drain a two-file feed, one micro-batch per file, through
    ``process``."""
    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(2):
        stage_stream_file(
            spark.range(i * 50, (i + 1) * 50), feed, f"b{i}.parquet",
            1_700_000_000 + i,
        )
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    drain_foreach_batch(stream, process, str(tmp_path / "ckpt"))


def _other_thread_gets_batch_lock(spark) -> bool:
    got = []

    def try_lock():
        lock = batch_lock(spark)
        if lock.acquire(blocking=False):
            lock.release()
            got.append(True)

    other = threading.Thread(target=try_lock)
    other.start()
    other.join(timeout=30)
    assert not other.is_alive()
    return bool(got)


def test_drained_batch_runs_in_its_own_batch_scope(spark, tmp_path):
    """Each batch body holds the batch lock against other threads, and
    the blocks it checkpoints are gone once the drain returns."""
    before = persisted_ids(spark)
    seen = []

    def process(batch_df, batch_id):
        ckpt_disk(batch_df.selectExpr("id * 2 AS d")).count()
        seen.append((persisted_ids(spark) - before, _other_thread_gets_batch_lock(spark)))

    _drain(spark, tmp_path, process)
    assert len(seen) == 2
    assert all(made and not locked for made, locked in seen), seen
    assert persisted_ids(spark) - before == set()
    assert _other_thread_gets_batch_lock(spark)


def test_drained_batch_that_raises_releases_its_blocks(spark, tmp_path):
    before = persisted_ids(spark)
    made = []

    def process(batch_df, batch_id):
        ckpt_disk(batch_df.selectExpr("id * 2 AS d")).count()
        made.append(persisted_ids(spark) - before)
        raise ValueError("batch body failed")

    with pytest.raises(Exception, match="batch body failed"):
        _drain(spark, tmp_path, process)
    assert made and made[0], made
    assert persisted_ids(spark) - before == set()
