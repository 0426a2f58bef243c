"""Spark-free pins on how the repository's own scripts and harnesses
reach the code: every ``sys.path`` insert resolves the checkout the file
lives in, every engine attribute the perfbench tracer wraps exists, and
the change feed stays the only way to learn of a store commit.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# an insert or append of a quoted absolute path — also inside the
# source of a generated child script
_LITERAL = re.compile(r"""sys\.path\.(insert|append)\([^)]*?['"]/""")


def _py_files(*subs):
    for sub in subs:
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, sub)):
            for name in sorted(files):
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)


def test_no_literal_absolute_path_on_sys_path():
    offenders = []
    for path in _py_files("tests", "tools"):
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if _LITERAL.search(line):
                    offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    # a literal checkout path makes a copy of the repo import another
    # tree; resolve the file's own root instead
    assert not offenders, offenders


class _Recorder:
    """Stands in for ``perfbench.trace.Tracer``: records what ``install``
    wraps, failing the way the tracer does (``getattr``) on a missing
    name."""

    def __init__(self):
        self.targets = set()

    def patch(self, owner, attr, name, outcome=None):
        getattr(owner, attr)
        self.targets.add((owner.__name__, attr))

    def replace(self, owner, attr, new):
        getattr(owner, attr)
        self.targets.add((owner.__name__, attr))


def test_perfbench_wrapped_attributes_exist():
    from perfbench.layers import install

    rec = _Recorder()
    install(rec)
    assert rec.targets == {
        ("ManifestStore", "ingest_batch"),
        ("ManifestStore", "compact"),
        ("ManifestStore", "read_where"),
        ("ManifestLog", "state"),
        ("ManifestLog", "try_commit"),
        ("stock_ops_spark.sources.commitlog", "materialize_micro"),
        ("stock_ops_spark.sources.commitlog", "write_micro"),
        ("stock_ops_spark.sources.commitlog", "collect_micro"),
        ("stock_ops_spark.sources.services", "local_relation"),
    }


def _names(tree):
    """Every identifier the module binds, reads, passes or spells as a
    string constant (``getattr(store, "observers")``)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, (ast.arg, ast.keyword)) and node.arg:
            yield node.arg
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value


def test_no_store_commit_callbacks():
    """Consumers learn of commits from ``read_changes`` only: a
    callback hook on the store fired in-process after the publish, so a
    crash between the two lost the delta for every consumer."""
    banned = {"observers", "on_observers", "_check_observers"}
    offenders = []
    for path in _py_files("stock_ops_spark", "tools"):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        hits = banned.intersection(_names(tree))
        if hits:
            offenders.append((os.path.relpath(path, REPO), sorted(hits)))
    assert not offenders, offenders


def test_matview_maintains_from_the_feed_only():
    path = os.path.join(REPO, "stock_ops_spark", "plans", "matview.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    (cls,) = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "MatView"
    ]
    methods = {
        n.name for n in cls.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert {"sync", "stream_sync", "init_from_snapshot"} <= methods
    assert not methods & {"refresh", "observer", "rebuild"}, methods
