"""Every entry of tests/slow_manifest.txt must name a real test.

The fast tier deselects the listed modules and node ids by exact
match, so an entry whose test was renamed or deleted matches nothing:
the renamed test silently moves into the fast tier.  The check parses
the test modules with ``ast`` — no import, no Spark."""

from __future__ import annotations

import ast
import os

TESTS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TESTS)


def _entries() -> list[str]:
    with open(os.path.join(TESTS, "slow_manifest.txt")) as f:
        lines = (line.strip() for line in f)
        return [ln for ln in lines if ln and not ln.startswith("#")]


def _defined(path: str) -> set[str]:
    """Test names a module defines: ``fn`` and ``Class::method``."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    names = set()
    for node in tree.body:
        if isinstance(node, funcs):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.update(
                f"{node.name}::{m.name}" for m in node.body
                if isinstance(m, funcs)
            )
    return names


def test_slow_manifest_entries_exist():
    entries = _entries()
    assert entries
    missing = []
    defined: dict[str, set[str]] = {}
    for entry in entries:
        module, _, name = entry.partition("::")
        path = os.path.join(ROOT, module)
        if not os.path.isfile(path):
            missing.append(entry)
            continue
        if not name:
            continue  # a whole module
        if module not in defined:
            defined[module] = _defined(path)
        if name.split("[", 1)[0] not in defined[module]:
            missing.append(entry)
    assert not missing, f"slow_manifest.txt names no such test: {missing}"
