"""No function without a caller.

Every public top-level def in the engine package must be referenced
somewhere in the repo (engine, contract, tests, tools, bench) as a
name, an attribute or an import alias. Re-exports in package
``__init__`` files do not count as callers: an exported name nobody
uses is still dead code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "myasynstreamjoin_spark"
SKIP = {"plans", ".git", ".bench_build"}  # top-level dirs only


def _repo_sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel.parts[0] in SKIP:
            continue
        yield path, ast.parse(path.read_text(), filename=str(rel))


def test_every_public_def_has_a_caller():
    defined: dict[str, str] = {}
    used: set[str] = set()
    for path, tree in _repo_sources():
        if path.is_relative_to(PACKAGE):
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("_"):
                    defined.setdefault(node.name, str(path.relative_to(ROOT)))
        if path.name == "__init__.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    dead = sorted(f"{defined[n]}::{n}" for n in defined.keys() - used)
    assert not dead, "public defs with no caller:\n" + "\n".join(dead)
