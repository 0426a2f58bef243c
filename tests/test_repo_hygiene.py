"""Spark-free pins on how the repository's own scripts and harnesses
reach the code: every ``sys.path`` insert resolves the checkout the file
lives in, every engine attribute the perfbench tracer wraps exists, the
change feed stays the only way to learn of a store commit and has one
planner, each batch stays one commit, every delta runs the one delta
kernel, the store builds its local
relations through ``localrel``, and no reader of a pre-log format
comes back.
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
        elif isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            yield node.name
        elif isinstance(node, ast.alias):
            yield node.asname or node.name
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


def test_fold_states_publish_through_the_commit_log_only():
    """The fold indexes and views publish through their own
    ``ManifestLog``: the per-seq marker protocol, its crash prune, the
    view's cursor file and the rename-aside swap with its heal-on-read
    are gone, and nothing may bring one back."""
    banned = {"_mark_pending", "_mark_committed", "_recover_crashed",
              "_CURSOR_FILE", "heal"}
    offenders = []
    for path in _py_files("stock_ops_spark"):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        names = set(_names(tree))
        hits = banned & names
        hits.update(".pending" for n in names if ".pending" in n)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute) and node.attr == "install"
                and isinstance(node.value, ast.Name)
                and node.value.id == "artifacts"
            ) or (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").endswith("artifacts")
                and any(a.name == "install" for a in node.names)
            ) or (
                path.endswith(os.path.join("operators", "artifacts.py"))
                and isinstance(node, ast.FunctionDef)
                and node.name == "install"
            ):
                hits.add("artifacts.install")
        if hits:
            offenders.append((os.path.relpath(path, REPO), sorted(hits)))
    assert not offenders, offenders


def test_no_group_commit():
    """Each batch is one ``ingest_batch`` commit: measured in interleaved
    pairs, grouping batches into one commit lost or tied in every
    shape, so the coordinator, the grouped ingest and their sizing rules
    were deleted and nothing may bring one back."""
    banned = {
        "ingest_group", "GroupCommitCoordinator", "_check_group_disjoint",
        "_GroupOverlap", "_GBID", "__gbid", "n_bids", "ignore_cols",
        "commit_group_size", "commit_linger_s",
    }
    offenders = []
    for path in _py_files("stock_ops_spark", "tools"):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        hits = banned.intersection(_names(tree))
        if hits:
            offenders.append((os.path.relpath(path, REPO), sorted(hits)))
    assert not offenders, offenders


def test_one_versioned_delta_kernel():
    """Every delta is ``ingest.versioned_delta_arrow``, on the driver or
    per key bucket in Spark: the Spark SQL twin of P5-A4 and the helpers
    nothing called were deleted, and nothing may bring one back."""
    banned = {
        "compute_versioned_delta", "assign_versions", "dedup_exact",
        "drop_allnull_payload", "_payload_struct",
        "l2_distance", "event_date_parts", "local_to_epoch_s",
        "ts_from_epoch_any", "stopword_ratio", "fingerprint64",
        "scan_column_count",
    }
    offenders = []
    for path in _py_files("stock_ops_spark", "tools", "perfbench"):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        hits = banned.intersection(_names(tree))
        if hits:
            offenders.append((os.path.relpath(path, REPO), sorted(hits)))
    assert not offenders, offenders


def test_store_builds_local_relations_through_localrel():
    """The store's driver-side frames — reads, change feeds, stats views,
    commit deltas — enter Spark through ``localrel.arrow_relation``, the
    one builder of a local relation from an Arrow table, so none calls
    ``createDataFrame`` itself."""
    path = os.path.join(REPO, "stock_ops_spark", "sources", "commitlog.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    hits = [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    assert not hits, hits


def test_stats_ride_the_manifest_only():
    """Each batch dir's per-key stats live in its commit meta, and the
    stats views fold them: the stats files, their pointers, the
    increment chain and its fold cadence, the Spark recompute after a
    row removal and the compaction-only bounds aggregate were deleted,
    and nothing may bring one back."""
    banned = {
        "_write_stats", "_stats_plus", "_stats_after_removal",
        "STATS_FOLD_EVERY", "stats_inc", "stats_incs", "_dir_meta",
    }
    offenders = []
    for path in _py_files("stock_ops_spark", "tools"):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        hits = banned.intersection(_names(tree))
        if hits:
            offenders.append((os.path.relpath(path, REPO), sorted(hits)))
    assert not offenders, offenders


def test_stockops_cdc_reads_through_the_change_planner():
    """The ``stockops_cdc`` stream and ``read_changes`` plan and read the
    feed with the same two functions of ``sources/commitlog.py``: the
    stream reader's own log listing, commit opener and row derivation
    were deleted, and nothing may bring one back."""
    path = os.path.join(REPO, "stock_ops_spark", "sources", "pyds.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    defined = {
        n.name for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    banned = {"_versions", "_commit", "_read_commit_rows", "_rows_of_table"}
    assert not defined & banned, sorted(defined & banned)
    assert {"change_pieces", "change_piece_arrow"} <= set(_names(tree))


def test_no_reader_of_pre_log_formats():
    """Every fold root and view is written through its ``ManifestLog``:
    the adoption of roots written before it (the per-seq ``_commits``
    markers, the view's plain partials and ``_mv_cursor`` file, the
    ``_convert`` hooks) was deleted, and nothing may bring one back."""
    offenders = []
    for path in _py_files("stock_ops_spark"):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        names = set(_names(tree))
        hits = {"_legacy", "_commits"} & names
        hits.update("_mv_cursor" for n in names if "_mv_cursor" in n)
        hits.update(
            "_convert" for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name == "_convert"
        )
        if hits:
            offenders.append((os.path.relpath(path, REPO), sorted(hits)))
    assert not offenders, offenders
