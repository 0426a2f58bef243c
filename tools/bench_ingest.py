"""Ingest-path throughput: rows/s through the full
dedup/version/stats/partitioned-write pipeline (the BASELINE.md
comparison point — the reference's single-writer envelope is 50–5,000
rows/s).

    python tools/bench_ingest.py [n_rows]

Prints one JSON line: fresh-ingest rows/s, dedup-probe (full replay,
zero appended) rows/s, and mixed (half dup / half new) rows/s.

    python tools/bench_ingest.py --micro [batch_rows] [n_batches]

Micro-batch cadence twin of the reference's 50–5,000 rows/s streaming
envelope: N json files of B rows each drive ``file_trade_source →
stream_ingest`` (maxFilesPerTrigger=1, so one file == one micro-batch)
with the full dedup/version/stats batch writer inside foreachBatch.
Prints rows/s plus the per-micro-batch latency distribution
(p50/p90/p99/max of triggerExecution) taken from the query's own
progress records.

    python tools/bench_ingest.py --race [n_writers] [rounds] [batch_rows]
    python tools/bench_ingest.py --streams [K] [batch_rows] [n_batches]

Several writers into ONE store, each batch its own ``ingest_batch``
commit: N writer processes (``--race``) or K streaming queries in one
session (``--streams``).  Each prints aggregate rows/s and the commit
count.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import tempfile

    from stock_ops_spark import schemas as S
    from stock_ops_spark.session import get_spark
    from stock_ops_spark.sources.commitlog import ManifestStore

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark("bench-ingest")
    base = 1736951400
    tickers = ["SPY", "VOO", "QQQ", "IWM"]

    def batch(lo: int, hi: int):
        rows = [
            (
                tickers[i % 4],
                base + (i // 4) * 60,
                1.0 + i % 7,
                2.0 + i % 7,
                0.5,
                1.5 + i % 3,
                10 + i % 100,
                "1m",
            )
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)

    with tempfile.TemporaryDirectory() as tmp:
        store = ManifestStore(spark, f"{tmp}/store")
        b = batch(0, n).localCheckpoint(eager=True)  # exclude row build from timing

        t0 = time.monotonic()
        appended = store.ingest_batch(b, "historical_intraday")
        fresh_s = time.monotonic() - t0
        assert appended == n

        t0 = time.monotonic()
        assert store.ingest_batch(b, "historical_intraday") == 0  # full replay
        probe_s = time.monotonic() - t0

        half = batch(n // 2, n + n // 2).localCheckpoint(eager=True)
        t0 = time.monotonic()
        assert store.ingest_batch(half, "historical_intraday") == n // 2
        mixed_s = time.monotonic() - t0

    print(
        json.dumps(
            {
                "metric": "ingest_rows_per_sec",
                "n_rows": n,
                "fresh": round(n / fresh_s),
                "dedup_probe": round(n / probe_s),
                "mixed_half_dup": round(n / mixed_s),
            }
        )
    )


def main_micro() -> None:
    import os
    import tempfile

    from stock_ops_spark.session import get_spark
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.streaming.ingest import file_trade_source, stream_ingest

    argv = [a for a in sys.argv[1:] if a != "--micro"]
    batch_rows = int(argv[0]) if len(argv) > 0 else 500
    n_batches = int(argv[1]) if len(argv) > 1 else 200
    spark = get_spark("bench-ingest-micro")
    # keep every micro-batch's progress record (default cap is 100)
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(n_batches + 10)
    )
    tickers = ["SPY", "VOO", "QQQ", "IWM"]
    base_ms = 1736951400_000

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/input"
        os.makedirs(src)
        # one file == one micro-batch (maxFilesPerTrigger=1)
        for b in range(n_batches):
            with open(f"{src}/batch_{b:05d}.json", "w") as f:
                for i in range(batch_rows):
                    g = b * batch_rows + i
                    f.write(
                        json.dumps(
                            {
                                "ticker": tickers[g % 4],
                                "timestamp_UTC_ms": base_ms + (g // 4) * 250,
                                "price": 1.0 + g % 7,
                                "volume": 10 + g % 100,
                                "ask_price": 1.5 + g % 7,
                                "bid_price": 0.5 + g % 7,
                                "ask_size": 5 + g % 9,
                                "bid_size": 5 + g % 11,
                            }
                        )
                        + "\n"
                    )

        store = ManifestStore(spark, f"{tmp}/store")
        stream = file_trade_source(spark, src, max_files_per_trigger=1)
        t0 = time.monotonic()
        q = stream_ingest(
            stream,
            store,
            mode="streaming",
            checkpoint=f"{tmp}/ckpt",
            available_now=True,
        )
        q.awaitTermination()
        wall_s = time.monotonic() - t0

        n = batch_rows * n_batches
        stored = store.read_all("streaming")
        assert stored is not None and stored.count() == n, "row-count mismatch"

        lat = sorted(
            p["durationMs"]["triggerExecution"]
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        )

    def pct(p: float) -> int:
        return lat[min(len(lat) - 1, int(p * len(lat)))] if lat else -1

    print(
        json.dumps(
            {
                "metric": "micro_batch_ingest",
                "batch_rows": batch_rows,
                "n_batches": n_batches,
                "rows_per_sec": round(n / wall_s),
                "batches_per_sec": round(n_batches / wall_s, 2),
                "batch_ms_p50": pct(0.50),
                "batch_ms_p90": pct(0.90),
                "batch_ms_p99": pct(0.99),
                "batch_ms_max": lat[-1] if lat else -1,
                "measured_batches": len(lat),
            }
        )
    )


def main_race() -> None:
    """Multi-writer OCC throughput: N subprocess writers ingest
    DISJOINT tickers into one ManifestStore concurrently (the
    test_commitlog_race.py shape, measured).  Reports aggregate rows/s,
    per-writer conflict counts, and the final gapless version count —
    the number that shows the commit loop's rebase path (re-publish on
    key-disjoint interleaves, no recompute) keeps sustained multi-writer
    ingest live where the r6 full-recompute loop starved.

        python tools/bench_ingest.py --race [n_writers] [rounds] [batch_rows]
    """
    import os
    import subprocess
    import tempfile
    import time as _t

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_writers = int(args[0]) if len(args) > 0 else 2
    rounds = int(args[1]) if len(args) > 1 else 8
    batch_rows = int(args[2]) if len(args) > 2 else 500

    root = tempfile.mkdtemp(prefix="race_bench_")
    go = os.path.join(root, "go")
    child_src = f"""
import os, sys, time
sys.path.insert(0, {REPO!r})
from stock_ops_spark.session import get_spark
from stock_ops_spark import schemas as S
from stock_ops_spark.sources.commitlog import (
    CommitConflict, ManifestLog, ManifestStore,
)
i = int(sys.argv[1])
spark = get_spark(f"race-bench-{{i}}", master="local[4]", shuffle_partitions=4)
store = ManifestStore(spark, {root!r}, auto_compact_every=0)
conflicts = [0]
_orig = ManifestLog.try_commit
def counting(self, version, payload):
    try:
        return _orig(self, version, payload)
    except CommitConflict:
        conflicts[0] += 1
        raise
ManifestLog.try_commit = counting
# Warm the FULL ingest path (codegen/JIT for the window, parquet+zstd
# writer, arrow stats) against a private throwaway store BEFORE the
# start gate: the first-ever commit pays ~3 s of one-time JVM warmup
# (measured r8) that would otherwise dominate a "sustained rows/s"
# number.  The measured store sees only timed commits.
warm = ManifestStore(spark, {root!r} + f"-warm-{{i}}", auto_compact_every=0)
rows = [(f"T{{i:02d}}", 1751463000 + 60 * j, 1.0, 2.0, 0.5, 1.5, 100 + j, "1h")
        for j in range({batch_rows})]
warm.ingest_batch(
    spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY),
    "historical_intraday",
)
conflicts[0] = 0
open({root!r} + f"/ready-{{i}}", "w").close()
while not os.path.exists({go!r}):
    time.sleep(0.01)
total = 0
for r in range({rounds}):
    rows = [(f"T{{i:02d}}", 1751463000 + 60 * ({batch_rows} * r + j),
             1.0, 2.0, 0.5, 1.5, 100 + j, "1h") for j in range({batch_rows})]
    total += store.ingest_batch(
        spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY),
        "historical_intraday",
    )
print("DONE", total, conflicts[0], flush=True)
"""
    scr = os.path.join(root, "child.py")
    with open(scr, "w") as f:
        f.write(child_src)
    procs = [
        subprocess.Popen(
            [sys.executable, scr, str(i)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for i in range(n_writers)
    ]
    while not all(
        os.path.exists(os.path.join(root, f"ready-{i}"))
        for i in range(n_writers)
    ):
        _t.sleep(0.05)
    t0 = _t.perf_counter()
    open(go, "w").close()
    totals, conflicts = [], []
    for p in procs:
        out, _ = p.communicate(timeout=3600)
        line = [l for l in out.splitlines() if l.startswith("DONE")][0]
        _, n, c = line.split()
        totals.append(int(n))
        conflicts.append(int(c))
    dt = _t.perf_counter() - t0

    from stock_ops_spark.session import get_spark
    from stock_ops_spark.sources.commitlog import ManifestStore

    spark = get_spark("race-bench-verify", master="local[4]", shuffle_partitions=4)
    store = ManifestStore(spark, root)
    log = store.log("historical_intraday")
    versions = [c["version"] for c in log.commits()]
    gapless = versions == list(range(1, len(versions) + 1))
    n_rows = store.read_all("historical_intraday").count()
    print(
        json.dumps(
            {
                "metric": "multi_writer_ingest_rows_per_s",
                "value": round(sum(totals) / dt, 1),
                "unit": "rows/s",
                "n_writers": n_writers,
                "rounds": rounds,
                "batch_rows": batch_rows,
                "wall_s": round(dt, 2),
                "per_writer_rows": totals,
                "per_writer_conflicts": conflicts,
                "versions_gapless": gapless,
                "n_versions": len(versions),
                "store_rows": n_rows,
                "exactly_once": n_rows == sum(totals),
            }
        )
    )
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    for i in range(n_writers):
        shutil.rmtree(f"{root}-warm-{i}", ignore_errors=True)


def main_streams() -> None:
    """Concurrent streaming queries into ONE ManifestStore:

        python tools/bench_ingest.py --streams [K] [batch_rows] [n_batches]

    K file streams (disjoint tickers, maxFilesPerTrigger=1 so one file
    == one micro-batch) run availableNow against one commit-log store;
    each foreachBatch is its own ``ingest_batch`` commit, the K writers
    racing through the commit loop's rebase path.  Prints rows/s and the
    commit count."""
    import os
    import tempfile

    from stock_ops_spark.session import get_spark
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.streaming.ingest import file_trade_source, stream_ingest

    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    k_streams = int(argv[0]) if len(argv) > 0 else 4
    batch_rows = int(argv[1]) if len(argv) > 1 else 500
    n_batches = int(argv[2]) if len(argv) > 2 else 8
    spark = get_spark("bench-ingest-streams")
    base_ms = 1736951400_000

    with tempfile.TemporaryDirectory() as tmp:
        for s in range(k_streams):
            src = f"{tmp}/in{s}"
            os.makedirs(src)
            for b in range(n_batches):
                with open(f"{src}/batch_{b:05d}.json", "w") as f:
                    for i in range(batch_rows):
                        g = b * batch_rows + i
                        f.write(
                            json.dumps(
                                {
                                    "ticker": f"T{s:02d}",
                                    "timestamp_UTC_ms": base_ms + g * 250,
                                    "price": 1.0 + g % 7,
                                    "volume": 10 + g % 100,
                                }
                            )
                            + "\n"
                        )
        # warm the full ingest path once (codegen/JIT/parquet writer)
        # against a throwaway store so the timed run is sustained-rate
        warm = ManifestStore(spark, f"{tmp}/warm", auto_compact_every=0)
        import stock_ops_spark.schemas as S

        warm.ingest_batch(
            spark.createDataFrame(
                [("W", base_ms, 1.0, 1, None, None, None, None)],
                schema=S.STREAMING,
            ),
            "streaming",
        )
        store = ManifestStore(spark, f"{tmp}/store", auto_compact_every=0)
        t0 = time.monotonic()
        qs = [
            stream_ingest(
                file_trade_source(spark, f"{tmp}/in{s}", 1),
                store,
                mode="streaming",
                checkpoint=f"{tmp}/ckpt{s}",
                available_now=True,
            )
            for s in range(k_streams)
        ]
        for q in qs:
            q.awaitTermination()
        wall_s = time.monotonic() - t0
        n = k_streams * batch_rows * n_batches
        assert store.read_all("streaming").count() == n, "row-count mismatch"
        version = store.version("streaming")

    print(
        json.dumps(
            {
                "metric": "multi_stream_ingest",
                "k_streams": k_streams,
                "batch_rows": batch_rows,
                "n_batches": n_batches,
                "rows_per_sec": round(n / wall_s),
                "commits": version,
            }
        )
    )


if __name__ == "__main__":
    if "--race" in sys.argv:
        main_race()
    elif "--streams" in sys.argv:
        main_streams()
    elif "--micro" in sys.argv:
        main_micro()
    else:
        main()

