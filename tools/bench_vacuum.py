"""Measure the manifest-log metadata cost vacuum exists to bound.

``ManifestLog.state()`` re-reads and folds every retained commit file;
at one commit per streaming micro-batch the log grows without bound and
the fold becomes a per-read metadata tax.  This probe synthesizes a log
of N commits (pure JSON, no Spark — the fold cost is file IO + JSON
parse, which is exactly what vacuum bounds), times the fold at several
log lengths, vacuums to an 8-version horizon, and times it again.

Each commit has the shape a streaming ingest commit publishes: one
batch dir whose meta carries its bounds, its row count and its per-key
stats rows for ``TICKERS`` tickers.

    python tools/bench_vacuum.py [max_commits]

Prints one JSON line: fold ms per log length, the mean commit file
size, post-vacuum fold ms, and the retained file count.
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_ops_spark.sources.commitlog import ManifestLog  # noqa: E402

TICKERS = 12  # distinct tickers per synthetic commit
ROWS = 500  # rows per synthetic commit


def dir_meta(n: int) -> dict:
    """The commit meta of the ``n``-th synthetic batch dir: streaming
    bounds, row count and one stats row per ticker."""
    t0 = 1_751_463_000_000 + 60_000 * n
    tickers = [f"T{i:03d}" for i in range(TICKERS)]
    return {
        "ticker": [tickers[0], tickers[-1]],
        "timestamp_UTC_ms": [t0, t0 + 59_999],
        "n": ROWS,
        "stats": {
            "ticker": tickers,
            "rc": [ROWS // TICKERS] * TICKERS,
            "nts": [ROWS // TICKERS] * TICKERS,
            "lo": [t0 + i for i in range(TICKERS)],
            "hi": [t0 + 59_999 - i for i in range(TICKERS)],
        },
    }


def fold_ms(log: ManifestLog, reps: int = 5) -> float:
    t0 = time.perf_counter()
    for _ in range(reps):
        log.state()
    return (time.perf_counter() - t0) / reps * 1000


def main() -> None:
    max_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 4096
    tmp = tempfile.mkdtemp(prefix="vacuum-bench-")
    log = ManifestLog(tmp + "/log")
    out = {"fold_ms_by_commits": {}, "unit": "ms"}
    n = 0
    probe_points = []
    p = 64
    while p <= max_commits:
        probe_points.append(p)
        p *= 4
    for target in probe_points:
        while n < target:
            n += 1
            d = f"batch-{n:08d}"
            log.try_commit(
                n,
                {
                    "adds": [d],
                    "removes": [],
                    "meta": {d: dir_meta(n)},
                    "op": "ingest",
                    "ts": float(n),
                },
            )
        out["fold_ms_by_commits"][str(target)] = round(fold_ms(log), 2)
    out["bytes_per_commit"] = round(
        sum(os.path.getsize(log._path(v)) for v in range(1, n + 1)) / n
    )

    # vacuum to an 8-version horizon: the fold cost must drop to O(8)
    # regardless of history length
    state_before = log.state()
    horizon = state_before["version"] - 8 + 1
    st = log.state(at_version=horizon)
    log.checkpoint(
        horizon,
        {
            "adds": list(st["dirs"]),
            "removes": [],
            "meta": st["meta"],
            "op": "checkpoint",
            "ts": 0.0,
        },
    )

    state_after = log.state()
    assert state_after["version"] == state_before["version"]
    assert state_after["dirs"] == state_before["dirs"], "vacuum changed state"
    out["post_vacuum_fold_ms"] = round(fold_ms(log), 2)
    out["post_vacuum_commit_files"] = 8
    print(json.dumps(out))
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
