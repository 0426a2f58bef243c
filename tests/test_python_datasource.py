"""Spark 4 Python DataSource connectors (sources/pyds.py): executor-side
REST backfill partitioned per ticker, and the frame-log streaming source
with checkpointed line offsets.  Reference twins:
eodhd_historical_service.py:79-158, eodhd_streaming_service.py:206-266."""
from __future__ import annotations

import json
import time

import pytest

from stock_ops_spark.sources.pyds import register_data_sources


@pytest.fixture()
def pyds(spark):
    register_data_sources(spark)
    return spark


def test_rest_batch_partition_per_ticker(pyds):
    df = (
        pyds.read.format("stockops_rest")
        .option("tickers", "SPY,VOO,QQQ")
        .option("interval", "1h")
        .load()
    )
    # the scale unit: one fetch task per ticker, run on executors
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == 6  # mock provider: 2 intraday bars per ticker
    assert {r.ticker for r in rows} == {"SPY", "VOO", "QQQ"}
    assert all(r.interval == "1h" for r in rows)
    spy = [r for r in rows if r.ticker == "SPY" and r.timestamp == 1751463000]
    assert len(spy) == 1 and abs(spy[0].open - 617.23999) < 1e-9


def test_rest_batch_interday_schema(pyds):
    rows = (
        pyds.read.format("stockops_rest")
        .option("tickers", "SPY")
        .option("interval", "d")
        .load()
        .collect()
    )
    assert len(rows) == 2
    assert rows[0].date == "2024-10-25"
    assert abs(rows[0].adjusted_close - 527.1013) < 1e-9


def test_rest_backfill_service_ingests(pyds, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.sources.services import run_historical_backfill

    store = ManifestStore(pyds, str(tmp_path / "s"))
    n = run_historical_backfill(
        pyds, store, "EODHD-mock", ["SPY", "VOO"], "US", "1h", "", ""
    )
    assert n == 4  # 2 bars x 2 tickers, normalized + deduped + versioned
    stored = store.read_all("historical_intraday")
    assert stored.count() == 4
    # replay is a no-op: the DataSource path feeds the same idempotent sink
    assert (
        run_historical_backfill(
            pyds, store, "EODHD-mock", ["SPY", "VOO"], "US", "1h", "", ""
        )
        == 0
    )


def _write_frames(path, lo, hi, ticker="SPY"):
    with open(path, "a") as f:
        for i in range(lo, hi):
            f.write(
                json.dumps(
                    {"s": ticker, "t": 1755526571000 + i * 1000, "p": 600.0 + i, "v": i}
                )
                + "\n"
            )


def test_frame_log_stream_paginates_and_resumes(pyds, tmp_path):
    """5 frames + 1 malformed line drain at 2 frames per micro-batch;
    a RESTART from the same checkpoint consumes only appended lines —
    committed line offsets make source progression exactly-once."""
    log = str(tmp_path / "frames.jsonl")
    _write_frames(log, 0, 5)
    with open(log, "a") as f:
        f.write("not json\n")  # malformed frame: skipped, not fatal
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def start():
        return (
            pyds.readStream.format("stockops_frames")
            .option("path", log)
            .option("stream_type", "trades")
            .option("batch_lines", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )

    def count():
        try:
            return pyds.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline and count() < 5:
        time.sleep(1)
    q.stop()
    assert count() == 5

    _write_frames(log, 5, 8, ticker="VOO")
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline and count() < 8:
        time.sleep(1)
    q2.stop()
    df = pyds.read.parquet(out)
    assert df.count() == 8
    assert df.distinct().count() == 8  # no replayed duplicates
    assert {r.ticker for r in df.collect()} == {"SPY", "VOO"}


def test_frame_log_quote_mapping(pyds, tmp_path):
    log = str(tmp_path / "quotes.jsonl")
    with open(log, "w") as f:
        f.write(
            json.dumps(
                {"s": "SPY", "t": 1755526651074, "ap": 643.205, "bp": 643.1985,
                 "as": 1, "bs": 1}
            )
            + "\n"
        )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        pyds.readStream.format("stockops_frames")
        .option("path", log)
        .option("stream_type", "quotes")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 120
    def count():
        try:
            return pyds.read.parquet(out).count()
        except Exception:
            return 0
    while time.time() < deadline and count() < 1:
        time.sleep(1)
    q.stop()
    r = pyds.read.parquet(out).collect()[0]
    assert r.ticker == "SPY" and r.price is None and abs(r.ask_price - 643.205) < 1e-9


def test_frame_log_to_store_end_to_end(pyds, tmp_path):
    """Full S2 path: frame-log DataSource → transform-equivalent rows →
    stream_ingest (foreachBatch dedup/version writer) → ManifestStore."""
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.streaming.ingest import stream_ingest

    log = str(tmp_path / "frames.jsonl")
    _write_frames(log, 0, 6)
    store = ManifestStore(pyds, str(tmp_path / "store"))
    stream = (
        pyds.readStream.format("stockops_frames")
        .option("path", log)
        .option("stream_type", "trades")
        .option("batch_lines", "4")
        .load()
    )
    q = stream_ingest(
        stream,
        store,
        mode="streaming",
        checkpoint=str(tmp_path / "ckpt"),
        trigger_seconds=1,
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        got = store.read_all("streaming")
        if got is not None and got.count() == 6:
            break
        time.sleep(1)
    q.stop()
    data = store.read_all("streaming")
    assert data.count() == 6
    assert set(data.columns) >= {"ticker", "timestamp_UTC_ms", "price", "version"}
    assert all(r.version == 1 for r in data.collect())


# -- ManifestStore CDC as a streaming source ------------------------------


def _mstore_rows(k, ticker="SPY"):
    return [(ticker, 1751463000 + 3600 * k, 1.0, 2.0, 0.5, 1.5, 100 + k, "1h")]


def test_manifest_cdc_stream_drains_and_resumes(pyds, tmp_path):
    """Commit versions are the stream offsets: availableNow drains the
    feed to the current version; a restart after more commits reads
    ONLY the new commits (the checkpointed cursor is the commit
    version); row content matches ManifestStore.read_changes."""
    from stock_ops_spark import schemas as S
    from stock_ops_spark.sources.commitlog import ManifestStore

    MODE = "historical_intraday"
    store = ManifestStore(pyds, str(tmp_path / "m"))
    for k in range(3):
        store.ingest_batch(
            pyds.createDataFrame(_mstore_rows(k), schema=S.HISTORICAL_INTRADAY),
            MODE,
        )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            pyds.readStream.format("stockops_cdc")
            .option("store_root", str(tmp_path / "m"))
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

    drain()
    got = pyds.read.parquet(out)
    assert got.count() == 3
    want = store.read_changes(MODE)
    assert sorted(
        (r["ticker"], r["timestamp_UTC_s"], r["_change_type"], r["_commit_version"])
        for r in got.collect()
    ) == sorted(
        (r["ticker"], r["timestamp_UTC_s"], r["_change_type"], r["_commit_version"])
        for r in want.collect()
    )
    # two more commits: one fresh insert, one re-send (update_postimage)
    store.ingest_batch(
        pyds.createDataFrame(_mstore_rows(9), schema=S.HISTORICAL_INTRADAY), MODE
    )
    store.ingest_batch(
        pyds.createDataFrame(
            [("SPY", 1751463000, 9.0, 9.0, 9.0, 9.0, 1, "1h")],
            schema=S.HISTORICAL_INTRADAY,
        ),
        MODE,
    )
    drain()
    got2 = pyds.read.parquet(out)
    assert got2.count() == 5  # only the 2 new commits' rows appended
    assert (
        got2.where("_commit_version = 5").collect()[0]["_change_type"]
        == "update_postimage"
    )


def test_manifest_cdc_cursor_below_vacuum_horizon_raises(pyds, tmp_path):
    from stock_ops_spark import schemas as S
    from stock_ops_spark.sources.commitlog import ManifestStore, VacuumedVersion
    from stock_ops_spark.sources.pyds import ManifestCDCStreamReader

    MODE = "historical_intraday"
    store = ManifestStore(pyds, str(tmp_path / "m"))
    for k in range(5):
        store.ingest_batch(
            pyds.createDataFrame(_mstore_rows(k), schema=S.HISTORICAL_INTRADAY),
            MODE,
        )
    store.vacuum(MODE, retain_last=2)  # horizon: version 4
    reader = ManifestCDCStreamReader(
        {"store_root": str(tmp_path / "m"), "mode": MODE}
    )
    with pytest.raises(VacuumedVersion, match="vacuumed"):
        reader.readBetweenOffsets({"version": 2}, {"version": 5})
    # a cursor at/above the horizon drains fine (checkpoint commit is
    # invisible; only commit 5 carries changes)
    rows = list(reader.readBetweenOffsets({"version": 4}, {"version": 5}))
    assert len(rows) == 1
