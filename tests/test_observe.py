"""observe.run_query, the one build/act/release step of every harness,
and the guard that keeps the harnesses from copying it."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from myasynstreamjoin_spark.blocks import persisted_ids
from myasynstreamjoin_spark.observe import run_query
from tests.conftest import code_nodes

ROOT = Path(__file__).resolve().parent.parent
# what run_query owns: the block snapshot and release, and the replay
# runner's private checkpoint dir
OWNED = {"persisted_ids", "release_blocks", "batch_lock", "_replay_checkpoint_dir"}


def _checkpointed(spark, _sf_dir):
    return spark.range(100).selectExpr("id * 3 AS y").localCheckpoint(eager=True)


def test_run_query_counts_and_releases_a_checkpoint(spark):
    before = persisted_ids(spark)
    rec = run_query(spark, _checkpointed, "unused")
    assert set(rec) == {
        "construct_s", "execute_s", "release_s", "wall_s", "persisted_n",
    }
    assert rec["persisted_n"] == 1
    assert rec["wall_s"] == pytest.approx(
        rec["construct_s"] + rec["execute_s"] + rec["release_s"]
    )
    assert persisted_ids(spark) - before == set()


def test_run_query_passes_the_frame_to_the_action(spark):
    seen = []
    rec = run_query(
        spark, _checkpointed, "unused", action=lambda df: seen.append(df.count())
    )
    assert seen == [100]
    assert rec["persisted_n"] == 1


def _fail(df):
    raise RuntimeError("action failed")


def _build_then_fail(spark, sf_dir):
    _checkpointed(spark, sf_dir)
    raise RuntimeError("construction failed")


@pytest.mark.parametrize(
    "fn, action, message",
    [
        (_checkpointed, _fail, "action failed"),
        (_build_then_fail, None, "construction failed"),
    ],
)
def test_run_query_releases_when_the_query_raises(spark, fn, action, message):
    before = persisted_ids(spark)
    with pytest.raises(RuntimeError, match=message):
        run_query(spark, fn, "unused", action=action)
    assert persisted_ids(spark) - before == set()


def test_harnesses_leave_blocks_to_run_query():
    paths = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    found = []
    for path in paths:
        for node in code_nodes(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name in OWNED:
                found.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    assert not found, "block handling outside observe.run_query:\n" + "\n".join(found)
