"""The replay-safe commit protocol (streaming/commits.py): numeric
batch order, strict name matching, the JSON snapshot rule, and the
structural guard that keeps the protocol in that one module."""

from __future__ import annotations

import ast
from pathlib import Path

from myasynstreamjoin_spark.streaming.commits import (
    committed_batch_dirs,
    load_snapshot_below,
    mark_committed,
    save_snapshot,
)
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


def test_only_commits_module_knows_the_protocol():
    allowed = {
        "_SUCCESS": {"commits.py"},
        "foreachBatch": {"commits.py"},
        "processAllAvailable": {"commits.py", "windowed.py"},
    }
    found = []
    for path in sorted(STREAMING.glob("*.py")):
        for node in code_nodes(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "_SUCCESS" in node.value
            ):
                key = "_SUCCESS"
            elif isinstance(node, ast.Call) and isinstance(
                node.func, ast.Attribute
            ):
                key = node.func.attr
            else:
                continue
            if key in allowed and path.name not in allowed[key]:
                found.append(f"{path.name}:{node.lineno} {key}")
    assert not found, "protocol code outside commits.py:\n" + "\n".join(found)
