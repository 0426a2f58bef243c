"""ManifestStore as the PRIMARY store: maintenance ops as manifest
commits (retention, type widening), commit-level skipping through the
ReadProcess API, and the combined lifecycle
ingest → compact → vacuum → CDC-resume without a cursor gap.

The ingest/read semantics matrix itself is parameterized over both
stores in test_ingest_store.py; this file covers the surfaces that only
exist (or only matter) under the commit log.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.sources import commitlog as CL
from stock_ops_spark.sources.commitlog import ChangeFeedGap, ManifestStore
from stock_ops_spark.sources.pyds import register_data_sources
from stock_ops_spark.sources.reader import ReadProcess

MODE = "historical_intraday"

# one row per month: Jan/Feb/Mar 2025, exchange-local 09:30
JAN, FEB, MAR = 1736951400, 1739629800, 1741181400


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)


def _row(ts, ticker="SPY", k=0):
    return (ticker, ts + 600 * k, 1.0 + k, 2.0 + k, 0.5, 1.5 + k, 100 + k, "1h")


@pytest.fixture()
def mstore(spark, tmp_path):
    return ManifestStore(spark, str(tmp_path / "mstore"))


# -- retention as a manifest commit ----------------------------------------


def test_retain_before_metadata_only_drops_whole_dirs(spark, mstore):
    for ts in (JAN, FEB, MAR):
        mstore.ingest_batch(_df(spark, [_row(ts)]), MODE)
    res = mstore.retain_before(MODE, FEB)  # cutoff: keep FEB onward
    assert res["deleted_dirs"] == 1 and res["rewritten_dirs"] == 0
    left = sorted(r["timestamp_UTC_s"] for r in mstore.read_all(MODE).collect())
    assert left == [FEB, MAR]
    # stats recomputed exactly for the affected ticker
    st = {r["ticker"]: r for r in mstore.table_stats(MODE).collect()}
    assert st["SPY"]["row_count"] == 2 and st["SPY"]["min_ts"] == FEB
    # time travel to the pre-retention snapshot still works (dirs retained
    # by the referencing commits until vacuum)
    assert mstore.read_all(MODE, at_version=3).count() == 3


def test_retain_without_cdc_gaps_the_feed_loudly(spark, mstore):
    for ts in (JAN, FEB):
        mstore.ingest_batch(_df(spark, [_row(ts)]), MODE)
    res = mstore.retain_before(MODE, FEB, cdc=False)
    v = res["version"]
    # a cursor below the retain commit must RAISE, never silently skip
    with pytest.raises(ChangeFeedGap):
        mstore.read_changes(MODE, from_version=0)
    # a cursor at/after it reads clean
    assert mstore.read_changes(MODE, from_version=v) is None
    mstore.ingest_batch(_df(spark, [_row(MAR)]), MODE)
    assert mstore.read_changes(MODE, from_version=v).count() == 1


def test_retain_with_cdc_keeps_feed_exact_for_views(spark, tmp_path, mstore):
    from stock_ops_spark.plans.matview import MatView

    for ts in (JAN, FEB, MAR):
        mstore.ingest_batch(_df(spark, [_row(ts)]), MODE)
    mv = MatView(
        spark, str(tmp_path / "mv"), ["ticker"],
        {"n": ("count", None), "vol": ("sum", "CAST(volume AS BIGINT)")},
    )
    mv.sync(mstore, MODE)
    res = mstore.retain_before(MODE, FEB, cdc=True)
    feed = mstore.read_changes(MODE, from_version=3, to_version=res["version"])
    assert feed.where(F.col("_change_type") == "delete").count() == 1
    mv.sync(mstore, MODE)  # subtractable fold of the delete
    got = {r["ticker"]: (r["n"], r["vol"]) for r in mv.read().collect()}
    assert got["SPY"] == (2, 200)  # JAN row (vol 100) retracted


def test_retain_before_straddle_rewrites_only_straddlers(spark, mstore):
    # one dir spans the cutoff (JAN+FEB rows); one dir is entirely after
    mstore.ingest_batch(_df(spark, [_row(JAN), _row(FEB)]), MODE)
    mstore.ingest_batch(_df(spark, [_row(MAR)]), MODE)
    res = mstore.retain_before(MODE, FEB)
    assert res["deleted_dirs"] == 0 and res["rewritten_dirs"] == 1
    left = sorted(r["timestamp_UTC_s"] for r in mstore.read_all(MODE).collect())
    assert left == [FEB, MAR]
    st = {r["ticker"]: r for r in mstore.table_stats(MODE).collect()}
    assert st["SPY"]["row_count"] == 2 and st["SPY"]["min_ts"] == FEB


def test_retain_before_noop_below_all_data(spark, mstore):
    mstore.ingest_batch(_df(spark, [_row(FEB)]), MODE)
    v = mstore.version(MODE)
    res = mstore.retain_before(MODE, JAN)
    assert res == {"deleted_dirs": 0, "rewritten_dirs": 0, "version": v}
    assert mstore.version(MODE) == v  # no empty commit


# -- type widening over the manifest layout ---------------------------------


def test_manifest_widen_types(spark, mstore):
    from pyspark.sql import types as T

    from stock_ops_spark.sources.maintenance import scan_type_conflicts

    def plus_score(t):
        return T.StructType(
            list(S.HISTORICAL_INTRADAY.fields) + [T.StructField("score", t, True)]
        )

    b1 = spark.createDataFrame(
        [("SPY", JAN, 1.0, 2.0, 0.5, 1.5, 10, "1h", 7)],
        schema=plus_score(T.LongType()),
    )
    mstore.ingest_batch(b1, MODE)
    b2 = spark.createDataFrame(
        [("SPY", FEB, 1.0, 2.0, 0.5, 1.5, 10, "1h", 7.5)],
        schema=plus_score(T.DoubleType()),
    )
    mstore.ingest_batch(b2, MODE)

    conflicts = scan_type_conflicts(mstore, MODE)
    assert conflicts["score"]["widened"] == "double"
    res = mstore.widen_types(MODE)
    assert res["columns"] == {"score": "double"}
    assert scan_type_conflicts(mstore, MODE) == {}
    rows = {
        (r["timestamp_UTC_s"], r["score"])
        for r in mstore.read_all(MODE).collect()
    }
    assert rows == {(JAN, 7.0), (FEB, 7.5)}
    # file names unchanged -> manifest references intact; re-run is a no-op
    assert mstore.widen_types(MODE)["files_rewritten"] == 0


# -- ReadProcess over the manifest store: commit-level skipping -------------


def test_readprocess_uses_commit_level_skipping(spark, mstore, monkeypatch):
    for ts in (JAN, FEB, MAR):
        mstore.ingest_batch(_df(spark, [_row(ts), _row(ts, "VOO")]), MODE)
    # the Spark path, as a read over the driver bound takes it
    monkeypatch.setattr(CL, "_read_dirs_arrow", lambda *a, **kw: None)
    rp = ReadProcess(mstore)
    out = rp.read_dt_range(MODE, "SPY", "2025-02-01 00:00", "2025-02-28 23:59")
    assert [r["timestamp_UTC_s"] for r in out.collect()] == [FEB]
    # only the FEB batch dir's files reach the plan (1 of 3 dirs)
    dirs = {f.split("/batch-")[1].split("/")[0] for f in out.inputFiles()}
    assert len(dirs) == 1
    # the API contract is unchanged: empty range raises
    from stock_ops_spark.sources.reader import EmptyReadError

    with pytest.raises(EmptyReadError):
        rp.read_dt_range(MODE, "SPY", "2024-01-01 00:00", "2024-01-02 00:00")


def test_readprocess_uses_commit_level_skipping_on_driver(spark, mstore, driver_reads):
    """The driver path opens only the FEB batch dir, and its one month."""
    for ts in (JAN, FEB, MAR):
        mstore.ingest_batch(_df(spark, [_row(ts), _row(ts, "VOO")]), MODE)
    driver_reads["dirs"].clear()
    driver_reads["fragments"].clear()
    rp = ReadProcess(mstore)
    out = rp.read_dt_range(MODE, "SPY", "2025-02-01 00:00", "2025-02-28 23:59")
    assert [r["timestamp_UTC_s"] for r in out.collect()] == [FEB]
    dirs = {d.split("/batch-")[1] for d in driver_reads["dirs"]}
    assert len(dirs) == 1
    frags = driver_reads["fragments"]
    assert frags and all("/year=2025/month=2/" in f for f in frags)
    from stock_ops_spark.sources.reader import EmptyReadError

    with pytest.raises(EmptyReadError):
        rp.read_dt_range(MODE, "SPY", "2024-01-01 00:00", "2024-01-02 00:00")


# -- the combined lifecycle: ingest -> compact -> vacuum -> CDC resume ------


def test_lifecycle_compact_vacuum_cdc_resume_no_gap(spark, tmp_path):
    """A downstream CDC consumer checkpointed mid-history must resume
    cleanly across a compaction AND a vacuum, reading each logical
    change exactly once — the 'one store story' end-to-end pin."""
    register_data_sources(spark)
    root = str(tmp_path / "m")
    store = ManifestStore(spark, root)
    for k in range(3):
        store.ingest_batch(_df(spark, [_row(JAN, k=k)]), MODE)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("stockops_cdc")
            .option("store_root", root)
            .option("mode", MODE)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    drain()  # cursor now at version 3
    assert spark.read.parquet(out).count() == 3

    # maintenance happens while the consumer is offline
    store.compact(MODE)               # version 4 (invisible to the feed)
    store.vacuum(MODE, retain_last=2)  # horizon 3 == consumer cursor: safe
    store.ingest_batch(_df(spark, [_row(MAR, k=9)]), MODE)  # version 5

    drain()  # resume: must see ONLY the new ingest, no gap, no replay
    got = spark.read.parquet(out)
    assert got.count() == 4
    assert (
        got.where(F.col("_commit_version") == 5).count() == 1
    )
    # each logical row exactly once
    assert (
        got.select("ticker", "timestamp_UTC_s", "version").distinct().count()
        == 4
    )
    # and the snapshot agrees with what the feed folded
    assert store.read_all(MODE).count() == 4


def test_lifecycle_vacuum_past_cursor_raises_not_skips(spark, tmp_path):
    """If vacuum outruns the consumer's checkpoint, the resume must fail
    loudly (re-bootstrap), never silently skip the vacuumed span."""
    register_data_sources(spark)
    root = str(tmp_path / "m2")
    store = ManifestStore(spark, root)
    store.ingest_batch(_df(spark, [_row(JAN)]), MODE)
    ckpt, out = str(tmp_path / "ckpt2"), str(tmp_path / "out2")

    q = (
        spark.readStream.format("stockops_cdc")
        .option("store_root", root)
        .option("mode", MODE)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()  # cursor at 1
    for k in range(1, 6):
        store.ingest_batch(_df(spark, [_row(JAN, k=k)]), MODE)
    store.vacuum(MODE, retain_last=2)  # horizon 5 > cursor 1
    q2 = (
        spark.readStream.format("stockops_cdc")
        .option("store_root", root)
        .option("mode", MODE)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="vacuum|re-bootstrap"):
        q2.awaitTermination(300)
        raise AssertionError("resume past a vacuumed cursor must fail")
