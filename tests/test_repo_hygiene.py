"""Spark-free pins on how the repository's own scripts and harnesses
reach the code: every ``sys.path`` insert resolves the checkout the file
lives in, and every engine attribute the perfbench tracer wraps exists.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# an insert or append of a quoted absolute path — also inside the
# source of a generated child script
_LITERAL = re.compile(r"""sys\.path\.(insert|append)\([^)]*?['"]/""")


def test_no_literal_absolute_path_on_sys_path():
    offenders = []
    for sub in ("tests", "tools"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, sub)):
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
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
