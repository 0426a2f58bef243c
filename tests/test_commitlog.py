"""ManifestStore: the store's commit log.

Contract under test: the ingest semantics (dedup/version/stats, via the
shared helpers), PLUS the properties only a transaction log can give —
data+stats atomicity under SIGKILL, optimistic concurrency, snapshot
time travel, atomic compaction, orphan GC, adoption of a plain Hive
parquet tree.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.sources.commitlog import (
    CommitConflict,
    ManifestLog,
    ManifestStore,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROWS_B1 = [
    ("SPY", 1751463000, 617.24, 618.72, 616.61, 618.60, 11824245, "1h"),
    ("SPY", 1751466600, 618.60, 619.00, 617.50, 618.10, 900000, "1h"),
    ("VOO", 1751463000, 567.00, 568.00, 566.00, 567.50, 100, "1h"),
]
ROWS_B2 = [
    ("SPY", 1751549400, 620.00, 621.00, 619.00, 620.50, 800000, "1h"),
    ("SPY", 1751466600, 618.60, 619.00, 617.50, 618.10, 900000, "1h"),  # dup of b1
    ("VOO", 1751549400, 569.00, 570.00, 568.00, 569.50, 200, "1h"),
]
MODE = "historical_intraday"


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)


@pytest.fixture()
def mstore(spark, tmp_path):
    return ManifestStore(spark, str(tmp_path / "mstore"))


# -- log primitives ------------------------------------------------------


def test_try_commit_is_put_if_absent(tmp_path):
    log = ManifestLog(str(tmp_path / "log"))
    log.try_commit(1, {"adds": ["batch-a"], "removes": []})
    with pytest.raises(CommitConflict):
        log.try_commit(1, {"adds": ["batch-b"], "removes": []})
    assert log.version() == 1
    assert log.state()["dirs"] == ["batch-a"]


def test_state_folds_adds_and_removes(tmp_path):
    log = ManifestLog(str(tmp_path / "log"))
    log.try_commit(1, {"adds": ["a"], "removes": [], "stats": {"table": "s1"}})
    log.try_commit(2, {"adds": ["b"], "removes": [], "stats": {"table": "s2"}})
    log.try_commit(3, {"adds": ["c"], "removes": ["a", "b"], "stats": {"table": "s3"}})
    assert log.state()["dirs"] == ["c"]
    assert log.state()["stats"] == {"table": "s3"}
    assert log.state(at_version=2)["dirs"] == ["a", "b"]
    assert log.state(at_version=2)["stats"] == {"table": "s2"}


# -- time travel ----------------------------------------------------------


def test_time_travel_snapshots(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    mstore.ingest_batch(_df(spark, ROWS_B2), MODE)
    assert mstore.version(MODE) == 2
    v1 = mstore.read_all(MODE, at_version=1)
    v2 = mstore.read_all(MODE, at_version=2)
    assert v1.count() == len(ROWS_B1)
    assert v2.count() == len(ROWS_B1) + len(ROWS_B2) - 1  # one dup absorbed
    # replayed duplicate batch commits nothing — version unchanged
    assert mstore.ingest_batch(_df(spark, ROWS_B1), MODE) == 0
    assert mstore.version(MODE) == 2


def test_commit_race_loser_recomputes(spark, tmp_path, mstore):
    """First commit attempt collides (a second writer publishes the same
    version in between); the loser must recompute against the fresh
    state — absorbing the winner's rows as duplicates — and commit the
    TRUE delta."""
    rival = ManifestStore(spark, str(tmp_path / "mstore"))
    log = mstore.log(MODE)
    orig = log.try_commit
    fired = {"n": 0}

    def racing_commit(version, payload):
        if fired["n"] == 0:
            fired["n"] += 1
            rival.ingest_batch(_df(spark, ROWS_B1), MODE)  # wins this version
        return orig(version, payload)

    log.try_commit = racing_commit
    import unittest.mock as mock

    with mock.patch.object(ManifestStore, "log", return_value=log):
        n = mstore.ingest_batch(_df(spark, ROWS_B1 + ROWS_B2), MODE)
    # winner took ROWS_B1; loser's recompute must land only the rest
    assert n == len(ROWS_B2) - 1  # minus the cross-batch duplicate
    total = mstore.read_all(MODE).count()
    assert total == len(ROWS_B1) + len(ROWS_B2) - 1
    rows = mstore.read_all(MODE).collect()
    assert all(r["version"] == 1 for r in rows)  # replays absorbed, not versioned


ROWS_RIVAL = [("QQQ", 1751400000, 1.0, 1.0, 1.0, 1.0, 10, "1h")]

REWRITES = {
    "merge": lambda s, spark: s.merge(_df(spark, SRC_MERGE), MODE),
    "delete_where": lambda s, spark: s.delete_where(MODE, "close < 600"),
    "retain_before": lambda s, spark: s.retain_before(MODE, 1751466600),
    "retain_before_cdc": lambda s, spark: s.retain_before(
        MODE, 1751466600, cdc=True
    ),
    "compact": lambda s, spark: s.compact(MODE),
    "restore": lambda s, spark: s.restore(MODE, 1),
}


def _rows(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


@pytest.mark.parametrize("op", sorted(REWRITES))
def test_rewrite_commit_conflict_path(spark, tmp_path, monkeypatch, op):
    """Every rewrite commit's lost-race path: an always-conflicting log
    raises RuntimeError and leaves nothing behind; one rival commit
    landing before the first publish makes the rewrite recompute
    against it and end exactly where a conflict-free run does — with
    the losing attempt's invisible dirs cleaned up."""
    import shutil

    import stock_ops_spark.sources.commitlog as cl

    run = REWRITES[op]
    store = ManifestStore(spark, str(tmp_path / "raced"))
    store.ingest_batch(_df(spark, ROWS_B1), MODE)
    store.ingest_batch(_df(spark, ROWS_B2), MODE)
    shutil.copytree(store.root, str(tmp_path / "ref"))
    ref = ManifestStore(spark, str(tmp_path / "ref"))
    ref.ingest_batch(_df(spark, ROWS_RIVAL), MODE)
    want = run(ref, spark)

    before = _rows(store.read_all(MODE))
    real_commit = ManifestLog.try_commit

    def always_lose(self, version, payload):
        raise CommitConflict(f"version {version} already committed")

    with monkeypatch.context() as m:
        m.setattr(ManifestStore, "MAX_COMMIT_RETRIES", 1)
        m.setattr(cl, "_conflict_backoff", lambda attempt: None)
        m.setattr(ManifestLog, "try_commit", always_lose)
        with pytest.raises(RuntimeError, match="commit races"):
            run(store, spark)
    assert store.gc_orphans(MODE, grace_s=0.0) == []
    assert store.version(MODE) == 2
    assert _rows(store.read_all(MODE)) == before

    rival = ManifestStore(spark, store.root)
    published = []

    def racing(self, version, payload):
        published.append((version, payload.get("op")))
        if len(published) == 1:
            rival.ingest_batch(_df(spark, ROWS_RIVAL), MODE)  # wins it
        return real_commit(self, version, payload)

    monkeypatch.setattr(cl, "_conflict_backoff", lambda attempt: None)
    monkeypatch.setattr(ManifestLog, "try_commit", racing)
    got = run(store, spark)
    # the loser tried version 3 (taken by the rival), then won 4
    assert [v for v, o in published if o != "ingest"] == [3, 4]
    assert got == want
    assert _rows(store.read_all(MODE)) == _rows(ref.read_all(MODE))
    assert _rows(store.table_stats(MODE)) == _rows(ref.table_stats(MODE))
    assert store.gc_orphans(MODE, grace_s=0.0) == []


# a new key disjoint from ROWS_RIVAL on ticker, and a batch sharing
# ROWS_RIVAL's key with another payload (a re-send: version 2)
ROWS_DISJOINT = [("VOO", 1751600000, 2.0, 2.0, 2.0, 2.0, 20, "1h")]
ROWS_RESEND = [("QQQ", 1751400000, 3.0, 3.0, 3.0, 3.0, 30, "1h")]


def _ingest_race(spark, tmp_path, monkeypatch, rows):
    """Ingest ``rows`` into a store at v2 while a rival publishes
    ROWS_RIVAL at v3 before the first publish, and check the result,
    rows and stats against a conflict-free run with the rival's commit
    first and that no debris is left; returns (store, the batch dirs the
    ingest wrote)."""
    import shutil

    import stock_ops_spark.sources.commitlog as cl

    store = ManifestStore(spark, str(tmp_path / "raced"))
    store.ingest_batch(_df(spark, ROWS_B1), MODE)
    store.ingest_batch(_df(spark, ROWS_B2), MODE)
    shutil.copytree(store.root, str(tmp_path / "ref"))
    ref = ManifestStore(spark, str(tmp_path / "ref"))
    ref.ingest_batch(_df(spark, ROWS_RIVAL), MODE)
    want = ref.ingest_batch(_df(spark, rows), MODE)

    rival = ManifestStore(spark, store.root)
    real_commit = ManifestLog.try_commit
    real_write = ManifestStore._write_batch_dir
    published, written = [], []

    def racing(self, version, payload):
        published.append(version)
        if len(published) == 1:
            rival.ingest_batch(_df(spark, ROWS_RIVAL), MODE)  # wins it
        return real_commit(self, version, payload)

    def write(self, *a, **kw):
        d = real_write(self, *a, **kw)
        if self is store:
            written.append(d)
        return d

    monkeypatch.setattr(cl, "_conflict_backoff", lambda attempt: None)
    with monkeypatch.context() as m:
        m.setattr(ManifestLog, "try_commit", racing)
        m.setattr(ManifestStore, "_write_batch_dir", write)
        got = store.ingest_batch(_df(spark, rows), MODE)
    assert got == want
    assert _rows(store.read_all(MODE)) == _rows(ref.read_all(MODE))
    assert _rows(store.table_stats(MODE)) == _rows(ref.table_stats(MODE))
    assert store.gc_orphans(MODE, grace_s=0.0) == []
    # the rival's publish is the second entry; the loser tried 3, won 4
    assert [published[0], published[-1]] == [3, 4]
    return store, written


def test_ingest_conflict_key_disjoint_rival_rebases(spark, tmp_path, monkeypatch):
    """A lost race against a key-disjoint ingest REBASES: the attempt
    runs once and its first batch dir is what publishes, at the next
    version — and the ingest commit document keeps its key order, so
    logs written before the one commit loop fold identically."""
    store, written = _ingest_race(spark, tmp_path, monkeypatch, ROWS_DISJOINT)
    log = store.log(MODE)
    with open(log._path(4)) as f:
        doc = json.load(f)
    assert len(written) == 1
    assert doc["adds"] == written
    assert list(doc) == [
        "adds", "removes", "stats_inc", "meta", "op", "ts", "version",
    ]


def test_ingest_conflict_key_overlap_rival_recomputes(spark, tmp_path, monkeypatch):
    """A lost race against an ingest sharing a key RECOMPUTES: the
    re-send becomes version 2 exactly as in a conflict-free run, and the
    losing attempt's batch and stats dirs are deleted."""
    store, written = _ingest_race(spark, tmp_path, monkeypatch, ROWS_RESEND)
    assert len(written) == 2
    assert store.log(MODE).state()["dirs"][-1] == written[-1]
    versions = {
        r["version"] for r in store.read_all(MODE).collect()
        if r["ticker"] == "QQQ"
    }
    assert versions == {1, 2}


def test_ingest_always_losing_gives_up_cleanly(spark, tmp_path, monkeypatch):
    """An ingest that loses every race raises with the give-up message
    and leaves the snapshot and the disk as they were."""
    import stock_ops_spark.sources.commitlog as cl

    store = ManifestStore(spark, str(tmp_path / "lost"))
    store.ingest_batch(_df(spark, ROWS_B1), MODE)
    store.ingest_batch(_df(spark, ROWS_B2), MODE)
    before = _rows(store.read_all(MODE))

    def always_lose(self, version, payload):
        raise CommitConflict(f"version {version} already committed")

    monkeypatch.setattr(ManifestStore, "MAX_COMMIT_RETRIES", 1)
    monkeypatch.setattr(cl, "_conflict_backoff", lambda attempt: None)
    monkeypatch.setattr(ManifestLog, "try_commit", always_lose)
    with pytest.raises(RuntimeError, match="ingest lost 1 commit races on "):
        store.ingest_batch(_df(spark, ROWS_RIVAL), MODE)
    monkeypatch.undo()
    assert store.version(MODE) == 2
    assert _rows(store.read_all(MODE)) == before
    assert store.gc_orphans(MODE, grace_s=0.0) == []


def test_vacuum_checkpoint_does_not_hide_conflicting_ingest(spark, mstore, monkeypatch):
    """A rival ingests the loser's row and vacuums down to that commit
    before the loser's first publish: the checkpoint replaced the rival's
    ingest commit, so the rebase check cannot see the shared key and
    must recompute — the row lands once."""
    mstore.ingest_batch(_df(spark, _mk_rows(0)), MODE)
    rival = ManifestStore(spark, mstore.root)
    real_commit = ManifestLog.try_commit
    fired = []

    def racing(self, version, payload):
        if not fired:
            fired.append(version)
            rival.ingest_batch(_df(spark, _mk_rows(1)), MODE)  # v2
            rival.vacuum(MODE, retain_last=1)  # v2 becomes a checkpoint
        return real_commit(self, version, payload)

    monkeypatch.setattr(ManifestLog, "try_commit", racing)
    assert mstore.ingest_batch(_df(spark, _mk_rows(1)), MODE) == 0
    assert fired == [2]
    assert mstore.read_all(MODE).count() == 2


def test_published_delta_in_feed_when_auto_compaction_fails(
    spark, tmp_path, monkeypatch
):
    """Inline auto-compaction runs after the ingest's publish: a
    compaction error still raises, but the published delta is in the
    change feed and a synced view folds it — a redelivery commits 0
    rows, so a delta lost here would leave the view short for good."""
    from stock_ops_spark.plans.matview import MatView

    store = ManifestStore(spark, str(tmp_path / "feed"), auto_compact_every=1)

    def broken_compact(self, mode):
        raise OSError("rewrite failed")

    monkeypatch.setattr(ManifestStore, "compact", broken_compact)
    with pytest.raises(OSError, match="rewrite failed"):
        store.ingest_batch(_df(spark, ROWS_B1), MODE)
    assert store.version(MODE) == 1
    feed = store.read_changes(MODE, 0)
    assert feed.count() == len(ROWS_B1)
    assert {r["_commit_version"] for r in feed.collect()} == {1}
    mv = MatView(spark, str(tmp_path / "mv"), ["ticker"], {"n": ("count", None)})
    assert mv.sync(store, MODE)["pos_rows"] == len(ROWS_B1)
    assert sum(r["n"] for r in mv.read().collect()) == len(ROWS_B1)


def test_compaction_atomic_swap_and_gc(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    mstore.ingest_batch(_df(spark, ROWS_B2), MODE)
    before = mstore.read_all(MODE).collect()
    pre_version = mstore.version(MODE)
    out = mstore.compact(MODE)
    assert out["rewritten"] == 2
    assert len(mstore.log(MODE).state()["dirs"]) == 1
    after = mstore.read_all(MODE).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, before)) == sorted(map(key, after))
    # pre-compaction snapshot still readable (old dirs not yet GC'd)
    old = mstore.read_all(MODE, at_version=pre_version)
    assert old.count() == len(before)
    # GC keeps the replaced dirs while the commits that added them are
    # retained — time travel works for the WHOLE retained window, even
    # at zero grace (the r6 behavior collected them after bare grace_s,
    # silently breaking read_all(at_version) inside retention)
    assert mstore.gc_orphans(MODE, grace_s=0.0) == []
    assert mstore.read_all(MODE, at_version=pre_version).count() == len(before)
    # vacuum is what makes history collectable: truncate to the compacted
    # commit, then GC sweeps the two un-referenced dirs
    mstore.vacuum(MODE, retain_last=1)
    removed = mstore.gc_orphans(MODE, grace_s=0.0)
    assert len([p for p in removed if "batch-" in p]) == 2
    assert mstore.read_all(MODE).count() == len(before)


def test_gc_leaves_live_and_graced_dirs(spark, mstore, tmp_path):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    data_root = mstore.data_path(MODE)
    os.makedirs(os.path.join(data_root, "batch-orphan-fresh"))
    assert mstore.gc_orphans(MODE, grace_s=3600) == []  # fresh: graced
    removed = mstore.gc_orphans(MODE, grace_s=0.0)
    assert removed == [os.path.join(data_root, "batch-orphan-fresh")]


# -- the headline: SIGKILL atomicity ---------------------------------------

_CHILD = r"""
import sys, time
sys.path.insert(0, {repo!r})
from stock_ops_spark.session import get_spark
from stock_ops_spark import schemas as S
from stock_ops_spark.sources.commitlog import ManifestStore

spark = get_spark("mlog-child", master="local[2]", shuffle_partitions=2)
store = ManifestStore(spark, {root!r})
rows = [
    ("SPY", 1751463000 + i * 600, 600.0 + i, 601.0 + i, 599.0 + i,
     600.5 + i, 1000 + i, "1h")
    for i in range(40)
]
for start in range(0, 40, 5):
    df = spark.createDataFrame(rows[start:start + 5], schema=S.HISTORICAL_INTRADAY)
    store.ingest_batch(df, "historical_intraday")
    print("COMMITTED", store.version("historical_intraday"), flush=True)
"""


def test_sigkill_mid_ingest_keeps_data_and_stats_atomic(spark, tmp_path):
    """Kill -9 a child between commits and mid-commit: every surviving
    version must have data and stats CONSISTENT with each other (the
    window a plain parquet append cannot close without a log), and a
    replay converges with no stats-rebuild step."""
    root = str(tmp_path / "mstore")
    script = tmp_path / "child.py"
    script.write_text(_CHILD.format(repo=REPO, root=root))
    proc = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    # kill as soon as at least two commits landed (mid-run, JVM hot)
    deadline = time.time() + 240
    commits_seen = 0
    while time.time() < deadline and proc.poll() is None:
        line = proc.stdout.readline()
        if line.startswith("COMMITTED"):
            commits_seen = int(line.split()[1])
            if commits_seen >= 2:
                break
    if proc.poll() is None:
        os.kill(proc.pid, signal.SIGKILL)
    proc.wait(timeout=30)
    assert commits_seen >= 2, "child never reached two commits"

    store = ManifestStore(spark, root)
    v = store.version(MODE)
    assert v >= 2
    # EVERY committed version is internally consistent: stats == data agg
    for k in range(1, v + 1):
        data = store.read_all(MODE, at_version=k)
        stats = {
            r["ticker"]: r
            for r in store._read_stats(MODE, "table", at_version=k).collect()
        }
        agg = {
            r["ticker"]: r
            for r in data.groupBy("ticker")
            .agg(
                {"*": "count", "timestamp_UTC_s": "max"},
            )
            .collect()
        }
        for t, row in agg.items():
            assert stats[t]["row_count"] == row["count(1)"]
    # crash debris (uncommitted batch/stats dirs) is sweepable, replay heals
    store.gc_orphans(MODE, grace_s=0.0)
    child_rows = [
        ("SPY", 1751463000 + i * 600, 600.0 + i, 601.0 + i, 599.0 + i,
         600.5 + i, 1000 + i, "1h")
        for i in range(40)
    ]
    for start in range(0, 40, 5):
        store.ingest_batch(_df(spark, child_rows[start:start + 5]), MODE)
    final = store.read_all(MODE)
    assert final.count() == 40
    assert final.select("ticker", "timestamp_UTC_s").distinct().count() == 40
    assert all(r["version"] == 1 for r in final.collect())
    # and stats are CURRENT with zero maintenance calls
    st = {r["ticker"]: r for r in store.table_stats(MODE).collect()}
    assert st["SPY"]["row_count"] == 40


def test_stream_ingest_into_manifest_store(spark, tmp_path):
    """ManifestStore drops into the streaming path (duck-typed
    `ingest_batch`): each micro-batch is one atomic commit, and a
    checkpoint replay commits nothing new."""
    import json as _json

    from stock_ops_spark.streaming.ingest import file_trade_source, stream_ingest

    src = tmp_path / "socket"
    src.mkdir()
    base = 1755526571000
    for b in range(3):
        with open(src / f"burst{b}.json", "w") as f:
            for i in range(4):
                f.write(
                    _json.dumps(
                        {
                            "ticker": "SPY",
                            "timestamp_UTC_ms": base + b * 60000 + i * 1000,
                            "price": 600.0 + i,
                            "volume": 10 + i,
                        }
                    )
                    + "\n"
                )
    store = ManifestStore(spark, str(tmp_path / "mstore"))
    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest(
        file_trade_source(spark, str(src), max_files_per_trigger=1),
        store,
        checkpoint=ckpt,
        available_now=True,
    )
    q.awaitTermination(180)
    assert store.read_all("streaming").count() == 12
    v = store.version("streaming")
    assert v == 3  # one atomic commit per non-empty micro-batch
    # replay from the same checkpoint: no new commits, no new rows
    q2 = stream_ingest(
        file_trade_source(spark, str(src), max_files_per_trigger=1),
        store,
        checkpoint=ckpt,
        available_now=True,
    )
    q2.awaitTermination(180)
    assert store.read_all("streaming").count() == 12
    assert store.version("streaming") == v
    st = {r["ticker"]: r for r in store.table_stats("streaming").collect()}
    assert st["SPY"]["row_count"] == 12


# -- MERGE / DELETE / CDC -------------------------------------------------

SRC_MERGE = [
    # correction of an existing row (payload replaced, version preserved)
    ("SPY", 1751463000, 617.24, 618.72, 616.61, 999.99, 11824245, "1h"),
    # brand-new key -> insert at version 1
    ("IVV", 1751463000, 500.0, 501.0, 499.0, 500.5, 10, "1h"),
]


def test_merge_updates_inserts_and_prunes_files(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)  # v1: 3 rows
    mstore.ingest_batch(_df(spark, ROWS_B2), MODE)  # v2: 2 rows (dup absorbed)
    dirs_before = mstore.log(MODE).state()["dirs"]
    assert len(dirs_before) == 2
    res = mstore.merge(_df(spark, SRC_MERGE), MODE)
    assert res == {
        "updated": 1,
        "inserted": 1,
        # SPY@1751463000 lives only in the v1 batch dir -> the v2 dir
        # must NOT be rewritten (file pruning, the scale story)
        "rewritten_dirs": 1,
        "version": 3,
    }
    state = mstore.log(MODE).state()
    assert dirs_before[1] in state["dirs"]  # untouched dir survived
    assert dirs_before[0] not in state["dirs"]  # touched dir swapped out
    snap = mstore.read_all(MODE)
    assert snap.count() == 6  # 5 unique + 1 insert
    upd = snap.where("ticker='SPY' and timestamp_UTC_s=1751463000").collect()
    assert len(upd) == 1
    assert upd[0]["close"] == 999.99  # payload replaced
    assert upd[0]["version"] == 1  # correction, not a new logical version
    ins = snap.where("ticker='IVV'").collect()
    assert len(ins) == 1 and ins[0]["version"] == 1
    # inserted rows flow into stats atomically with the commit
    st = {r["ticker"]: r for r in mstore.table_stats(MODE).collect()}
    assert st["IVV"]["row_count"] == 1
    assert st["SPY"]["row_count"] == 3  # updates don't move counts


def test_merge_pure_update_carries_stats_pointer(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    ptr_before = mstore.log(MODE).state()["stats"]
    res = mstore.merge(_df(spark, SRC_MERGE[:1]), MODE)
    assert res["updated"] == 1 and res["inserted"] == 0
    # index keys are immutable under MERGE, so count/min/max cannot move:
    # the commit re-points at the SAME stats snapshot (no recompute)
    assert mstore.log(MODE).state()["stats"] == ptr_before


def test_merge_rejects_duplicate_source_keys(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    dup_src = _df(spark, SRC_MERGE[:1] + SRC_MERGE[:1])
    with pytest.raises(ValueError, match="unique on index keys"):
        mstore.merge(dup_src, MODE)


def test_delete_where_sql_null_semantics_and_stats(spark, mstore):
    rows_null = [("QQQ", 1751463000, 1.0, 1.0, 1.0, None, 10, "1h")]
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    mstore.ingest_batch(_df(spark, ROWS_B2), MODE)
    mstore.ingest_batch(_df(spark, rows_null), MODE)
    res = mstore.delete_where(MODE, "close < 600")
    # both VOO rows match; QQQ's NULL close is KEPT (only TRUE deletes)
    assert res["deleted"] == 2
    snap = mstore.read_all(MODE)
    assert snap.where("ticker='VOO'").count() == 0
    assert snap.where("ticker='QQQ'").count() == 1
    assert snap.count() == 4  # 3 SPY + QQQ
    # stats: affected ticker recomputed exactly (VOO emptied -> gone),
    # untouched tickers' rows carried over
    st = {r["ticker"]: r for r in mstore.table_stats(MODE).collect()}
    assert "VOO" not in st
    assert st["SPY"]["row_count"] == 3
    assert st["QQQ"]["row_count"] == 1


def test_delete_where_no_match_is_a_noop(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    res = mstore.delete_where(MODE, "ticker = 'NOPE'")
    assert res == {"deleted": 0, "rewritten_dirs": 0, "version": 1}
    assert mstore.version(MODE) == 1  # no empty commit


def test_read_changes_feed(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)  # v1: 3 inserts
    # conflict-versioned re-send: same key, different payload -> version 2
    resend = [("SPY", 1751463000, 617.24, 618.72, 616.61, 555.55, 11824245, "1h")]
    mstore.ingest_batch(_df(spark, resend), MODE)  # v2
    mstore.merge(_df(spark, SRC_MERGE), MODE)  # v3: 1 update + 1 insert
    mstore.compact(MODE)  # v4: invisible to the feed
    mstore.delete_where(MODE, "ticker = 'VOO'")  # v5: 1 delete
    ch = mstore.read_changes(MODE)
    got = {
        (r["_commit_version"], r["_change_type"]): r["cnt"]
        for r in ch.groupBy("_commit_version", "_change_type").count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert got == {
        (1, "insert"): 3,
        (2, "update_postimage"): 1,  # the logical update in the versioned model
        (3, "update_preimage"): 2,  # both versions of the corrected key
        (3, "update_postimage"): 2,
        (3, "insert"): 1,
        (5, "delete"): 1,
    }
    # cursor: a consumer checkpointed at v3 sees only v5's delete
    tail = mstore.read_changes(MODE, from_version=3)
    assert tail.select("_commit_version").distinct().collect()[0][0] == 5
    assert tail.count() == 1
    assert mstore.read_changes(MODE, from_version=5) is None


def test_gc_collects_orphan_cdc_keeps_referenced(spark, mstore):
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    mstore.merge(_df(spark, SRC_MERGE), MODE)
    log_dir = mstore.log(MODE).log_dir
    referenced = [n for n in os.listdir(log_dir) if n.startswith("cdc-")]
    assert len(referenced) == 1
    orphan = os.path.join(log_dir, "cdc-99999999-deadbeef")
    os.makedirs(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    # grace longer than this test's age keeps the (seconds-old) batch
    # dirs the change feed still references; the hours-old orphan goes
    removed = mstore.gc_orphans(MODE, grace_s=3600.0)
    assert orphan in removed
    assert os.path.isdir(os.path.join(log_dir, referenced[0]))
    # the feed still replays after GC
    assert mstore.read_changes(MODE).count() > 0


# -- vacuum: checkpoint + history truncation ------------------------------


def _mk_rows(k):
    # unique ts per batch so nothing dedups away
    return [("SPY", 1751463000 + 3600 * k, 1.0, 2.0, 0.5, 1.5, 100 + k, "1h")]


def test_vacuum_checkpoints_and_truncates(spark, mstore):
    from stock_ops_spark.sources.commitlog import VacuumedVersion

    for k in range(5):
        mstore.ingest_batch(_df(spark, _mk_rows(k)), MODE)
    before = {
        tuple(r) for r in mstore.read_all(MODE).collect()
    }
    res = mstore.vacuum(MODE, retain_last=2)
    assert res["checkpointed"] == 4 and res["commits_dropped"] == 3
    log = mstore.log(MODE)
    assert log.min_version() == 4 and log.version() == 5
    # current snapshot identical; retained time travel works
    assert {tuple(r) for r in mstore.read_all(MODE).collect()} == before
    assert mstore.read_all(MODE, at_version=4).count() == 4
    # stats pointer survived the checkpoint rewrite
    assert mstore.table_stats(MODE).count() == 1
    # vacuumed versions raise, never silently return empty
    with pytest.raises(VacuumedVersion):
        mstore.read_all(MODE, at_version=3)
    # the log keeps accepting new commits afterwards
    mstore.ingest_batch(_df(spark, _mk_rows(9)), MODE)
    assert mstore.version(MODE) == 6
    assert mstore.read_all(MODE).count() == 6
    # dropped-history stats dirs became unreferenced -> gc-collectable,
    # while the live pointer's dir survives even at zero grace
    removed = mstore.gc_orphans(MODE, grace_s=0.0)
    assert mstore.table_stats(MODE).count() == 1
    assert all("stats-000000" in p or "batch-" in p or "cdc-" in p for p in removed)


def test_vacuum_crash_window_is_idempotent(spark, mstore):
    """Checkpoint written but old commits NOT yet deleted (the kill
    window between vacuum steps 2 and 3): folding must not double-read
    dirs listed by both an old commit and the checkpoint."""
    import json as _json
    import os as _os

    for k in range(4):
        mstore.ingest_batch(_df(spark, _mk_rows(k)), MODE)
    log = mstore.log(MODE)
    st3 = log.state(at_version=3)
    doc = {
        "version": 3,
        "adds": list(st3["dirs"]),
        "removes": [],
        "stats": st3["stats"],
        "op": "checkpoint",
        "ts": 0.0,
    }
    with open(log._path(3), "w") as f:  # simulate the post-rename state
        _json.dump(doc, f)
    assert _os.path.exists(log._path(1))  # older commits still present
    assert mstore.read_all(MODE).count() == 4  # no doubled rows
    assert mstore.read_all(MODE, at_version=3).count() == 3
    # re-running vacuum completes the truncation
    res = mstore.vacuum(MODE, retain_last=2)
    assert res["checkpointed"] == 3 and res["commits_dropped"] == 2
    assert mstore.read_all(MODE).count() == 4


def test_vacuum_noop_when_history_short(spark, mstore):
    mstore.ingest_batch(_df(spark, _mk_rows(0)), MODE)
    assert mstore.vacuum(MODE, retain_last=8) == {
        "checkpointed": 0,
        "commits_dropped": 0,
    }
    assert mstore.read_all(MODE).count() == 1


def test_change_feed_cursor_below_vacuum_horizon_raises(spark, mstore):
    from stock_ops_spark.sources.commitlog import VacuumedVersion

    for k in range(5):
        mstore.ingest_batch(_df(spark, _mk_rows(k)), MODE)
    mstore.vacuum(MODE, retain_last=2)  # horizon: version 4
    # cursor at the checkpoint version is complete: feed = (4, 5]
    feed = mstore.read_changes(MODE, from_version=4)
    assert feed.count() == 1
    assert feed.select("_commit_version").distinct().collect()[0][0] == 5
    # cursor below the checkpoint would miss rewritten history
    with pytest.raises(VacuumedVersion):
        mstore.read_changes(MODE, from_version=3)


# -- commit-level data skipping -------------------------------------------


def _rows_at(day_offset, ticker="SPY"):
    base = 1751463000 + 86400 * day_offset
    return [(ticker, base, 1.0, 2.0, 0.5, 1.5, 100 + day_offset, "1h")]


def test_read_where_prunes_dirs_by_ts_and_ticker(spark, mstore):
    """Three batches with disjoint time ranges: a point predicate must
    hand Spark ONLY the matching batch dir (no listing, no footer read
    of the others), and the residual filter keeps semantics exact."""
    for k in range(3):
        mstore.ingest_batch(_df(spark, _rows_at(k)), MODE)
    mstore.ingest_batch(_df(spark, _rows_at(1, ticker="VOO")), MODE)
    stats = {}
    ts1 = 1751463000 + 86400
    df = mstore.read_where(
        MODE, ticker="SPY", ts_min=ts1, ts_max=ts1, stats=stats
    )
    assert stats["dirs_total"] == 4 and stats["dirs_read"] == 1
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["ticker"] == "SPY"
    # equivalent unpruned read agrees
    full = mstore.read_all(MODE).where(
        (F.col("ticker") == "SPY")
        & (F.col("timestamp_UTC_s") == ts1)
    )
    assert [r.asDict() for r in full.collect()] == [r.asDict() for r in rows]
    # physical proof: every input file sits under the one surviving dir
    files = df.inputFiles()
    assert files and all("batch-" in f for f in files)
    assert len({f.split("batch-")[1].split("/")[0] for f in files}) == 1


def test_read_where_meta_survives_compaction_and_vacuum(spark, mstore):
    for k in range(4):
        mstore.ingest_batch(_df(spark, _rows_at(k)), MODE)
    mstore.compact(MODE)
    # compacted dir's bounds are the fold of the old dirs' bounds
    st = mstore.log(MODE).state()
    assert len(st["dirs"]) == 1
    m = st["meta"][st["dirs"][0]]
    assert m["timestamp_UTC_s"] == [1751463000, 1751463000 + 3 * 86400]
    # post-compaction batch + vacuum: pruning still works from the
    # checkpoint's carried meta
    mstore.ingest_batch(_df(spark, _rows_at(10)), MODE)
    mstore.vacuum(MODE, retain_last=2)
    stats = {}
    ts10 = 1751463000 + 10 * 86400
    df = mstore.read_where(MODE, ts_min=ts10, stats=stats)
    assert stats["dirs_total"] == 2 and stats["dirs_read"] == 1
    assert df.count() == 1


def test_read_where_unknown_meta_is_read_not_skipped(spark, mstore):
    """A dir committed without bounds (pre-feature log) must always be
    read — pruning may only use proven-disjoint bounds."""
    mstore.ingest_batch(_df(spark, _rows_at(0)), MODE)
    log = mstore.log(MODE)
    # strip the recorded meta, simulating an old commit
    import json as _json

    path = log._path(1)
    with open(path) as f:
        doc = _json.load(f)
    doc.pop("meta", None)
    import os as _os

    _os.remove(path)
    log.try_commit(1, doc)
    stats = {}
    df = mstore.read_where(MODE, ts_min=9999999999, stats=stats)
    assert stats["dirs_read"] == 1  # unknown bounds: must scan
    assert df.count() == 0  # residual filter still correct


# -- plain Hive-parquet tree -> ManifestStore migration ---------------------


def _hive_tree(spark, tmp_path, *batches):
    """A plain ``partitionBy`` parquet tree holding the store rows the
    batches ingest to (versions and partition columns included), plus
    the store that computed them — the shape of a pre-manifest history."""
    from stock_ops_spark.sources.layout import PARTITION_COLS

    src = ManifestStore(spark, str(tmp_path / "src"))
    for rows in batches:
        src.ingest_batch(_df(spark, rows), MODE)
    path = str(tmp_path / "hive")
    src.read_all(MODE).write.partitionBy(*PARTITION_COLS[MODE]).parquet(path)
    return path, src


def test_convert_from_hive_parquet_tree(spark, tmp_path, mstore):
    """Adopting a plain-parquet history: snapshot equality, stats
    self-consistency, and dedup continuity for subsequent ingests."""
    path, src = _hive_tree(spark, tmp_path, ROWS_B1, ROWS_B2)
    res = mstore.convert_from(path, MODE)
    assert res["version"] == 1 and res["adopted_rows"] == 5
    canon = lambda df: sorted(  # noqa: E731
        map(str, (sorted(r.asDict().items()) for r in df.collect()))
    )
    assert canon(mstore.read_all(MODE)) == canon(src.read_all(MODE))
    # stats recomputed from adopted rows match the source's running stats
    assert canon(mstore.table_stats(MODE)) == canon(src.table_stats(MODE))
    # dedup continuity: a full replay of either source batch is a no-op
    assert mstore.ingest_batch(_df(spark, ROWS_B2), MODE) == 0
    # fresh rows still land (version 2)
    assert mstore.ingest_batch(_df(spark, _mk_rows(77)), MODE) == 1
    assert mstore.version(MODE) == 2
    # a second adoption must refuse: version 1 is already taken
    with pytest.raises(ValueError, match="empty target"):
        mstore.convert_from(path, MODE)
    # adopted dir carries data-skipping bounds
    st = mstore.log(MODE).state()
    assert any("timestamp_UTC_s" in m for m in st["meta"].values())


# -- RESTORE: make an earlier snapshot current again -----------------------


def test_restore_swaps_snapshot_and_feeds_cdc(spark, mstore):
    for k in range(3):
        mstore.ingest_batch(_df(spark, _mk_rows(k)), MODE)
    v1_rows = {tuple(r) for r in mstore.read_all(MODE, at_version=1).collect()}
    res = mstore.restore(MODE, 1)
    assert res["version"] == 4 and res["restored_to"] == 1
    assert res["n_deleted"] == 2 and res["n_reinserted"] == 0
    assert {tuple(r) for r in mstore.read_all(MODE).collect()} == v1_rows
    # history preserved: the undone span still time-travels
    assert mstore.read_all(MODE, at_version=3).count() == 3
    # the stats pointer followed the snapshot
    assert mstore.table_stats(MODE).agg({"row_count": "sum"}).collect()[0][0] == 1
    # CDC: the restore commit carries the two departed rows as deletes
    feed = mstore.read_changes(MODE, from_version=3)
    assert feed.count() == 2
    assert {r["_change_type"] for r in feed.collect()} == {"delete"}
    # restoring forward to the pre-restore version re-inserts them
    res2 = mstore.restore(MODE, 3)
    assert res2["n_reinserted"] == 2 and res2["n_deleted"] == 0
    assert mstore.read_all(MODE).count() == 3


def test_restore_refuses_garbage_collected_version(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "m"))
    store.ingest_batch(_df(spark, _mk_rows(0)), MODE)
    store.ingest_batch(_df(spark, _mk_rows(1)), MODE)
    # simulate GC of a version-1 dir: restore must refuse loudly
    import shutil as _sh
    import os as _os

    st1 = store.log(MODE).state(at_version=1)
    live_now = set(store.log(MODE).state()["dirs"])
    victim = [d for d in st1["dirs"]][0]
    if victim in live_now:
        # compact first so version 1's dir is no longer live
        store.compact(MODE)
        victim = st1["dirs"][0]
    _sh.rmtree(_os.path.join(store.data_path(MODE), victim))
    with pytest.raises(ValueError, match="garbage-collected"):
        store.restore(MODE, 1)


# -- model-based op-sequence test ------------------------------------------


def test_random_op_sequences_match_model(spark, tmp_path):
    """Seeded random sequences of {ingest, compact, vacuum, restore}
    against an in-memory model of the versioning contract: after every
    op, read_all must equal the model's current state exactly.  This is
    the whole-store integration check no single-op test gives — e.g.
    restore after vacuum after compact exercises checkpoint meta,
    dir-swap and version arithmetic together."""
    import random

    from stock_ops_spark.sources.commitlog import ManifestStore

    def payload_key(p):  # version-assignment order: the payload struct
        return p

    for seed in (7, 23):
        rng = random.Random(seed)
        store = ManifestStore(
            spark, str(tmp_path / f"seq{seed}"), auto_compact_every=0
        )
        # model: history of {key: {payload: version}} snapshots, index = version
        history = [{}]

        def current():
            return history[-1]

        def model_rows(state):
            return {
                (k[0], k[1], k[2], p, v)
                for k, pays in state.items()
                for p, v in pays.items()
            }

        def store_rows():
            df = store.read_all(MODE)
            if df is None:
                return set()
            return {
                (
                    r["ticker"],
                    r["timestamp_UTC_s"],
                    r["interval"],
                    (r["open"], r["volume"]),
                    r["version"],
                )
                for r in df.collect()
            }

        min_restorable = 1
        for _op in range(9):
            op = rng.choice(["ingest", "ingest", "ingest", "compact",
                             "vacuum", "restore"])
            if op == "ingest":
                rows = []
                for _ in range(rng.randint(1, 5)):
                    t = rng.choice(["AAA", "BBB"])
                    ts = 1751463000 + 3600 * rng.randint(0, 2)
                    o = float(rng.randint(1, 4))
                    vol = rng.randint(1, 2)
                    rows.append((t, ts, o, 2.0, 0.5, 1.5, vol, "1h"))
                n = store.ingest_batch(_df(spark, rows), MODE)
                # model the same ingest
                state = {k: dict(v) for k, v in current().items()}
                pairs = {((r[0], r[1], r[7]), (r[2], r[6])) for r in rows}
                fresh = [
                    (k, p) for k, p in pairs
                    if p not in state.get(k, {})
                ]
                by_key = {}
                for k, p in fresh:
                    by_key.setdefault(k, []).append(p)
                n_model = 0
                for k, ps in by_key.items():
                    maxv = max(state.get(k, {}).values(), default=0)
                    for i, p in enumerate(sorted(ps, key=payload_key), 1):
                        state.setdefault(k, {})[p] = maxv + i
                        n_model += 1
                assert n == n_model, f"seed {seed}: ingest count diverged"
                if n_model:
                    history.append(state)
            elif op == "compact":
                store.compact(MODE)
                if len(history) > 1 and store.version(MODE) == len(history):
                    history.append(current())  # compaction commits a version
            elif op == "vacuum":
                res = store.vacuum(MODE, retain_last=3)
                if res["checkpointed"]:
                    min_restorable = res["checkpointed"]
            elif op == "restore":
                hi = store.version(MODE)
                if hi <= min_restorable:
                    continue
                tgt = rng.randint(min_restorable, hi)
                res = store.restore(MODE, tgt)
                if res["version"] > hi:  # not a same-version noop
                    history.append(history[tgt])
            assert store_rows() == model_rows(current()), (
                f"seed {seed} op {_op} ({op}): store diverged from model"
            )
            assert store.version(MODE) == len(history) - 1


# -- round-7 ADVICE fixes ---------------------------------------------------


def test_read_changes_includes_convert_commit(spark, tmp_path, mstore):
    """A convert_from adoption IS version 1's change set: a fresh CDC
    consumer (cursor 0) must see every adopted row, with the change type
    derived from the adopted version column exactly like ingest."""
    # conflict re-send: same key, changed payload -> version 2 row
    bump = [("SPY", 1751463000, 617.24, 618.72, 616.61, 999.0, 11824245, "1h")]
    path, _ = _hive_tree(spark, tmp_path, ROWS_B1, bump)
    mstore.convert_from(path, MODE)
    feed = mstore.read_changes(MODE, from_version=0)
    assert feed is not None
    counts = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"insert": 3, "update_postimage": 1}
    assert feed.select("_commit_version").distinct().collect()[0][0] == 1
    # and the streaming CDC reader agrees (same derivation, arrow path)
    from stock_ops_spark.sources.pyds import ManifestCDCStreamReader

    rdr = ManifestCDCStreamReader(
        {"store_root": mstore.root, "mode": MODE}
    )
    rows = list(rdr._read_commit_rows(rdr._commit(1)))
    assert len(rows) == 4


def test_vacuum_stops_on_failed_remove_no_gap(spark, mstore, monkeypatch):
    """A failed delete mid-history-truncation must STOP the loop —
    deleting past the failure would leave a gap in the contiguous
    [min_version, version] range commits() folds."""
    import stock_ops_spark.sources.commitlog as cl

    for k in range(6):
        mstore.ingest_batch(_df(spark, _mk_rows(k)), MODE)
    real_remove = os.remove

    def flaky(path):
        if path.endswith(f"{2:08d}.json"):
            raise PermissionError("simulated sticky file")
        return real_remove(path)

    monkeypatch.setattr(cl.os, "remove", flaky)
    res = mstore.vacuum(MODE, retain_last=2)  # horizon = 5
    assert res["checkpointed"] == 5
    assert res["commits_dropped"] == 1  # removed 1, stopped at 2
    log = mstore.log(MODE)
    assert log.min_version() == 2  # contiguous suffix preserved
    assert [c["version"] for c in log.commits()] == [2, 3, 4, 5, 6]
    assert mstore.read_all(MODE).count() == 6  # fold still correct
    monkeypatch.setattr(cl.os, "remove", real_remove)
    res = mstore.vacuum(MODE, retain_last=2)  # retry completes
    assert log.min_version() == 5
    assert mstore.read_all(MODE).count() == 6


def test_commits_tolerates_concurrent_vacuum(spark, mstore, monkeypatch):
    """A vacuum racing between commits()'s listing and its opens must
    not surface FileNotFoundError — the fold re-lists and retries."""
    for k in range(5):
        mstore.ingest_batch(_df(spark, _mk_rows(k)), MODE)
    log = mstore.log(MODE)
    real_min = ManifestLog.min_version
    fired = {"done": False}

    def racy_min(self):
        lo = real_min(self)
        if not fired["done"]:
            fired["done"] = True
            mstore.vacuum(MODE, retain_last=2)  # drops 1..3 after lo read
        return lo

    monkeypatch.setattr(ManifestLog, "min_version", racy_min)
    out = log.commits()
    assert [c["version"] for c in out] == [4, 5]


def test_gc_preserves_time_travel_for_retained_merge_history(spark, mstore):
    """Merge-removed dirs are still inputs to read_all(at_version) while
    the commits that reference them are retained — GC must keep them."""
    mstore.ingest_batch(_df(spark, ROWS_B1), MODE)
    mstore.merge(_df(spark, SRC_MERGE), MODE)
    pre = mstore.read_all(MODE, at_version=1).count()
    assert mstore.gc_orphans(MODE, grace_s=0.0) == []
    assert mstore.read_all(MODE, at_version=1).count() == pre
    # restore into the retained window also survives GC
    res = mstore.restore(MODE, 1)
    assert res["restored_to"] == 1


# -- r8: stats-increment chain -------------------------------------------


def _batch_at(spark, ticker, base_ts, n=4):
    rows = [
        (ticker, base_ts + 3600 * i, 1.0, 2.0, 0.5, 1.5, 100 + i, "1h")
        for i in range(n)
    ]
    return _df(spark, rows)


def _table_counts(store):
    return {
        r["ticker"]: r["row_count"]
        for r in store.table_stats(MODE).collect()
    }


def test_stats_increment_chain_folds_exactly(spark, mstore):
    """Five increment commits fold to the same stats one snapshot
    would; the commit payloads really are increments (no per-commit
    cumulative snapshot on the hot path)."""
    for i in range(5):
        mstore.ingest_batch(_batch_at(spark, "AAA", 1751463000 + 86400 * i), MODE)
    assert _table_counts(mstore) == {"AAA": 20}
    log = mstore.log(MODE)
    ops = [("stats_inc" in c, "stats" in c) for c in log.commits()]
    assert all(inc and not cum for inc, cum in ops)
    st = log.state()
    assert st["stats"] is None and len(st["stats_incs"]) == 5


def test_stats_fold_rollover_materializes_snapshot(spark, mstore, monkeypatch):
    """The STATS_FOLD_EVERY-th increment materializes a cumulative
    snapshot and RESETS the chain — the fold is bounded."""
    monkeypatch.setattr(type(mstore), "STATS_FOLD_EVERY", 3)
    for i in range(5):
        mstore.ingest_batch(_batch_at(spark, "AAA", 1751463000 + 86400 * i), MODE)
    st = mstore.log(MODE).state()
    # commits: inc, inc, inc, FOLD(snapshot), inc
    assert st["stats"] is not None
    assert len(st["stats_incs"]) == 1
    assert _table_counts(mstore) == {"AAA": 20}


def test_vacuum_checkpoint_carries_increment_chain(spark, tmp_path):
    """Vacuum below outstanding increments must not lose them: the
    checkpoint commit carries the chain verbatim, gc keeps the
    referenced increment dirs, and stats stay exact afterwards."""
    store = ManifestStore(spark, str(tmp_path / "vstore"), auto_compact_every=0)
    for i in range(6):
        store.ingest_batch(_batch_at(spark, "AAA", 1751463000 + 86400 * i), MODE)
    store.vacuum(MODE, retain_last=2)
    assert _table_counts(store) == {"AAA": 24}
    removed = store.gc_orphans(MODE, grace_s=0.0)
    assert removed == []  # everything is referenced by retained commits
    assert _table_counts(store) == {"AAA": 24}
    # the feed keeps working past the checkpoint
    store.ingest_batch(_batch_at(spark, "BBB", 1751463000), MODE)
    assert _table_counts(store) == {"AAA": 24, "BBB": 4}


def test_compact_carries_increment_chain(spark, tmp_path):
    """Compaction is physical-only: it must carry the snapshot AND the
    outstanding increments forward, and the folded per-dir 'n' meta
    equals the live row count (the auto-cadence input)."""
    store = ManifestStore(spark, str(tmp_path / "cstore"), auto_compact_every=0)
    for i in range(4):
        store.ingest_batch(_batch_at(spark, "AAA", 1751463000 + 86400 * i), MODE)
    store.compact(MODE)
    assert _table_counts(store) == {"AAA": 16}
    st = store.log(MODE).state()
    assert len(st["dirs"]) == 1
    assert st["meta"][st["dirs"][0]]["n"] == 16
    # increments survived the compact commit
    assert len(st["stats_incs"]) == 4
    store.ingest_batch(_batch_at(spark, "BBB", 1751463000), MODE)
    assert _table_counts(store) == {"AAA": 16, "BBB": 4}


def test_auto_cadence_compacts_from_live_rows(spark, tmp_path):
    """Default 'auto' cadence: tiny stores fold at the 8-dir floor."""
    store = ManifestStore(spark, str(tmp_path / "astore"))  # auto
    for i in range(8):
        store.ingest_batch(_batch_at(spark, "AAA", 1751463000 + 86400 * i), MODE)
    st = store.log(MODE).state()
    assert len(st["dirs"]) == 1  # the 8th ingest triggered the fold
    ops = [c.get("op") for c in store.log(MODE).commits()]
    assert ops.count("compact") == 1
    assert _table_counts(store) == {"AAA": 32}


def test_rebase_check_opens_only_the_interleaved_commits(tmp_path, monkeypatch):
    """``_interleaved_commits_safe`` reads base+1..head, not the whole
    retained log: on a 200-commit log with one interleaved commit it
    opens exactly one commit file, and still rejects a key it shares."""
    import builtins

    from stock_ops_spark.sources import commitlog as CL

    store = ManifestStore(None, str(tmp_path))
    log = store.log("streaming")
    ts = "timestamp_UTC_ms"
    for v in range(1, 201):
        d = f"batch-{v}"
        log.try_commit(v, {"op": "ingest", "adds": [d], "removes": [],
                           "meta": {d: {"ticker": ["A", "A"], ts: [v, v]}}})
    opened = []

    def counting_open(path, *a, **kw):
        opened.append(os.path.basename(str(path)))
        return builtins.open(path, *a, **kw)

    monkeypatch.setattr(CL, "open", counting_open, raising=False)
    disjoint = {"ticker": ["B", "B"], ts: [200, 200]}
    assert store._interleaved_commits_safe("streaming", 199, 200, disjoint)
    assert opened == ["00000200.json"]
    shared = {"ticker": ["A", "A"], ts: [200, 200]}
    assert not store._interleaved_commits_safe("streaming", 199, 200, shared)
