"""Two PROCESSES ingest disjoint batches into the same ManifestStore
concurrently — the real multi-writer shape a cluster hits (the injected
in-process race in test_commitlog.py proves the retry logic; this
proves the put-if-absent commit file actually arbitrates between JVMs
with nothing shared but the filesystem).

Pins: the commit log is a GAPLESS linear version sequence, both
writers' rows land exactly once with correct stats, and at least one
loser actually walked the CommitConflict-recompute path (children
count conflicts and report them).  The first round collides for
certain: each child touches ``attempted-<i>`` before its first
``try_commit`` and waits until both files exist, so both publish
version 1 from the same base."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from stock_ops_spark import schemas as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODE = "historical_intraday"
ROUNDS = 5

_CHILD = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
from stock_ops_spark.session import get_spark
from stock_ops_spark import schemas as S
from stock_ops_spark.sources.commitlog import (
    CommitConflict, ManifestLog, ManifestStore,
)

spark = get_spark({app!r}, master="local[2]", shuffle_partitions=2)
store = ManifestStore(spark, {root!r})

conflicts = [0]
_orig = ManifestLog.try_commit
def counting(self, version, payload):
    if not os.path.exists({attempted!r}):
        open({attempted!r}, "w").close()
        deadline = time.time() + 300
        while not all(os.path.exists(p) for p in {both!r}):
            if time.time() > deadline:
                raise RuntimeError("the rival writer never reached its commit")
            time.sleep(0.01)
    try:
        return _orig(self, version, payload)
    except CommitConflict:
        conflicts[0] += 1
        raise
ManifestLog.try_commit = counting

# warm the JVM so both writers hit the log at full speed together
spark.createDataFrame([(1,)], "x int").count()
open({ready!r}, "w").close()
while not os.path.exists({go!r}):
    time.sleep(0.01)

total = 0
for r in range({rounds}):
    rows = [({ticker!r}, 1751463000 + 600 * r, 1.0 + r, 2.0, 0.5, 1.5,
             100 + r, "1h")]
    total += store.ingest_batch(
        spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY),
        {mode!r},
    )
print("DONE", total, conflicts[0], flush=True)
"""


def test_two_process_commit_race_gapless_exactly_once(spark, tmp_path):
    root = str(tmp_path / "mstore")
    go = str(tmp_path / "go")
    procs, readies = [], []
    both = [str(tmp_path / f"attempted-{i}") for i in range(2)]
    for i, ticker in enumerate(("AAA", "BBB")):
        ready = str(tmp_path / f"ready-{i}")
        readies.append(ready)
        scr = tmp_path / f"child{i}.py"
        scr.write_text(
            _CHILD.format(
                repo=REPO, app=f"mrace-{i}", root=root, ready=ready,
                go=go, rounds=ROUNDS, ticker=ticker, mode=MODE,
                attempted=both[i], both=both,
            )
        )
        procs.append(
            subprocess.Popen(
                [sys.executable, str(scr)],
                stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL,
                text=True,
            )
        )
    deadline = time.time() + 180
    while not all(os.path.exists(r) for r in readies):
        assert time.time() < deadline, "children never warmed up"
        time.sleep(0.05)
    open(go, "w").close()

    totals, conflicts = [], 0
    for p in procs:
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, out
        line = [l for l in out.splitlines() if l.startswith("DONE")][0]
        _, n, c = line.split()
        totals.append(int(n))
        conflicts += int(c)

    # every row each writer sent was committed (disjoint: no dedup loss)
    assert totals == [ROUNDS, ROUNDS]
    # at least one loser actually recomputed (the OCC path ran for real)
    assert conflicts >= 1, "no commit collision observed — race did not race"

    from stock_ops_spark.sources.commitlog import ManifestStore

    store = ManifestStore(spark, root)
    log = store.log(MODE)
    commits = log.commits()
    versions = [c["version"] for c in commits]
    # gapless linear history: no holes, no dupes.  The r8 "auto"
    # compaction cadence may legitimately fold once mid-race (live
    # dirs reach the cadence floor), so the pin is: every version
    # consecutive, and EXACTLY one ingest commit per ingest call.
    assert versions == list(range(1, len(versions) + 1))
    n_ingests = sum(1 for c in commits if c.get("op") == "ingest")
    assert n_ingests == 2 * ROUNDS
    rows = store.read_all(MODE).collect()
    assert len(rows) == 2 * ROUNDS
    assert all(r["version"] == 1 for r in rows)  # disjoint keys: no conflicts
    got = {(r["ticker"], r["timestamp_UTC_s"]) for r in rows}
    assert len(got) == 2 * ROUNDS  # exactly once, both writers complete
    st = {r["ticker"]: r["row_count"] for r in store.table_stats(MODE).collect()}
    assert st == {"AAA": ROUNDS, "BBB": ROUNDS}
