"""Provider registry + ingestion services (S1/S2) and the stateful
streaming VWAP operator (ST4)."""

from __future__ import annotations

import json

import pytest

from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.providers import Provider, get, register, registered
from stock_ops_spark.sources.services import run_historical_task, run_stream_task
from stock_ops_spark.streaming.ingest import file_trade_source
from stock_ops_spark.streaming.stateful import batch_vwap, running_vwap


def test_provider_registry():
    assert "EODHD-mock" in registered()
    p = get("EODHD-mock")
    assert p.exchanges["US"].timezone == "America/New_York"
    with pytest.raises(KeyError):
        get("nope")
    register(Provider(name="x"))
    assert "x" in registered()


def test_historical_interday_service(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "s"))
    n = run_historical_task(
        spark, store, "EODHD-mock", "VOO", "US", "d", "2024-10-01", "2024-10-31"
    )
    assert n == 2
    rows = store.read_all("historical_interday").collect()
    assert {str(r.date) for r in rows} == {"2024-10-25", "2024-10-28"}
    assert all(r.ticker == "VOO" and r.interval == "d" for r in rows)
    # re-run: idempotent (all exact dups)
    assert (
        run_historical_task(
            spark, store, "EODHD-mock", "VOO", "US", "d", "2024-10-01", "2024-10-31"
        )
        == 0
    )


def test_historical_intraday_service_null_volume(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "s"))
    n = run_historical_task(
        spark, store, "EODHD-mock", "SPY", "US", "1h", "2025-07-02", "2025-07-03"
    )
    assert n == 2
    rows = {r.timestamp_UTC_s: r for r in store.read_all("historical_intraday").collect()}
    assert rows[1751466600].volume is None  # None-volume preserved as NULL


def test_stream_service_trades_and_quotes_coexist(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "s"))
    nt = run_stream_task(spark, store, "EODHD-mock", ["SPY"], "US", "trades")
    nq = run_stream_task(spark, store, "EODHD-mock", ["SPY"], "US", "quotes")
    assert nt == 2 and nq == 2
    data = store.read_all("streaming")
    co = data.where(data.timestamp_UTC_ms == 1755526651074).collect()
    assert len(co) == 2  # J3: co-timestamped trade + quote, NULL-padded
    shapes = {(r.price is None, r.ask_price is None) for r in co}
    assert shapes == {(False, True), (True, False)}


def test_running_vwap_stream_converges_to_batch(spark, tmp_path):
    trades = [
        {"ticker": "SPY", "timestamp_UTC_ms": 1, "price": 100.0, "volume": 10},
        {"ticker": "SPY", "timestamp_UTC_ms": 2, "price": 110.0, "volume": 30},
        {"ticker": "VOO", "timestamp_UTC_ms": 3, "price": 50.0, "volume": 2},
        {"ticker": "SPY", "timestamp_UTC_ms": 4, "price": 120.0, "volume": 60},
    ]
    src = tmp_path / "src"
    src.mkdir()
    # two bursts → two micro-batches → state carried across batches
    for i, chunk in enumerate((trades[:2], trades[2:])):
        with open(src / f"b{i}.json", "w") as f:
            for t in chunk:
                f.write(json.dumps(t) + "\n")

    stream = file_trade_source(spark, str(src))
    q = (
        running_vwap(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("vwap_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # last update per ticker = final running state
    got = spark.sql(
        "select * from vwap_mem"
    ).toPandas().groupby("ticker").last()

    batch_df = spark.createDataFrame(
        [(t["ticker"], t["price"], t["volume"]) for t in trades],
        "ticker string, price double, volume long",
    )
    expected = {r.ticker: r for r in batch_vwap(batch_df).collect()}
    for ticker in ("SPY", "VOO"):
        assert got.loc[ticker, "total_volume"] == expected[ticker].total_volume
        assert abs(got.loc[ticker, "vwap"] - expected[ticker].vwap) < 1e-9
        assert got.loc[ticker, "n_trades"] == expected[ticker].n_trades


def test_running_user_profile_accumulates_across_batches(spark, tmp_path):
    """The keyed profile state (scalar aggregate + per-type histogram)
    must carry across micro-batches: the LAST update per user equals the
    whole-input batch aggregate."""
    import pandas as pd

    from stock_ops_spark.streaming.stateful import (
        batch_user_profile,
        running_user_profile,
    )

    events = [
        (1, "click", 1.0),
        (1, "purchase", 5.0),
        (2, "click", 2.0),
        (1, "click", 3.0),      # batch 2: user 1 again, repeated type
        (2, "signup", None),    # null value: excluded everywhere
        (2, "purchase", 9.0),
    ]
    src = tmp_path / "profile_src"
    src.mkdir()
    for i, chunk in enumerate((events[:3], events[3:])):
        pd.DataFrame(chunk, columns=["user_id", "event_type", "value"]).to_parquet(
            src / f"b{i}.parquet"
        )
    stream = (
        spark.readStream.schema("user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        running_user_profile(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("profile_mem")
        .option("checkpointLocation", str(tmp_path / "profile_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from profile_mem").toPandas().groupby("user_id").last()

    batch_df = spark.createDataFrame(
        events, "user_id long, event_type string, value double"
    )
    expected = {r.user_id: r for r in batch_user_profile(batch_df).collect()}
    for uid in (1, 2):
        assert got.loc[uid, "n_events"] == expected[uid].n_events
        assert abs(got.loc[uid, "total_value"] - expected[uid].total_value) < 1e-9
        assert abs(got.loc[uid, "max_value"] - expected[uid].max_value) < 1e-9
        assert got.loc[uid, "n_event_types"] == expected[uid].n_event_types


def test_running_user_profile_tws_engine(spark, tmp_path):
    """transformWithStateInPandas twin — runs only where its protobuf
    dependency exists (not in this container; gate documented in
    streaming/stateful.py:tws_available)."""
    from stock_ops_spark.streaming.stateful import (
        batch_user_profile,
        running_user_profile,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf not available: TWS state server unusable")

    import pandas as pd

    from stock_ops_spark.session import STATE_STORE_PROVIDERS

    events = [(1, "click", 1.0), (1, "purchase", 5.0), (2, "click", 2.0)]
    src = tmp_path / "tws_src"
    src.mkdir()
    pd.DataFrame(events, columns=["user_id", "event_type", "value"]).to_parquet(
        src / "b0.parquet"
    )
    stream = spark.readStream.schema(
        "user_id long, event_type string, value double"
    ).parquet(str(src))
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, STATE_STORE_PROVIDERS["rocksdb"])
    try:
        q = (
            running_user_profile(stream, engine="tws")
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_mem")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    got = spark.sql("select * from tws_mem").toPandas().set_index("user_id")
    batch_df = spark.createDataFrame(
        events, "user_id long, event_type string, value double"
    )
    for r in batch_user_profile(batch_df).collect():
        assert got.loc[r.user_id, "n_events"] == r.n_events


def test_streaming_sessions_gap_and_timeout(spark, tmp_path):
    """Sessionization with EventTimeTimeout: a gap jump closes the old
    session in-batch; the watermark closes idle sessions via timeout;
    open sessions are never emitted (append semantics)."""
    import json
    import os

    from pyspark.sql import functions as F

    from stock_ops_spark.streaming.stateful import streaming_sessions

    t0 = 1_755_000_000_000  # ms
    src = tmp_path / "ev"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    # burst 1: user 1 two events 10 min apart; user 2 one event
    write(
        "a.json",
        [
            {"user_id": 1, "ts_ms": t0, "value": 1.0},
            {"user_id": 1, "ts_ms": t0 + 600_000, "value": 2.0},
            {"user_id": 2, "ts_ms": t0 + 300_000, "value": 5.0},
        ],
        mtime=1_000_000,
    )
    # burst 2: user 1 again 2h later (gap jump; also advances watermark
    # past user 2's last event + gap -> timeout)
    write("b.json", [{"user_id": 1, "ts_ms": t0 + 7_200_000, "value": 3.0}], mtime=1_000_100)

    stream = (
        spark.readStream.schema("user_id long, ts_ms long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts"), "value")
    )
    q = (
        streaming_sessions(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.user_id): (r.session_start_ms, r.session_end_ms, r.n_events, r.sum_value)
        for r in spark.sql("select * from sess_mem").collect()
    }
    # user 1's first session closed by the gap jump; second stays open
    assert rows[1] == (t0, t0 + 600_000, 2, 3.0)
    # user 2's session closed by event-time timeout
    assert rows[2] == (t0 + 300_000, t0 + 300_000, 1, 5.0)
    assert len(rows) == 2


def test_run_command_dispatch(spark, tmp_path):
    """Controller-twin dispatch: reference command dicts route to the
    right service; unknown types raise."""
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.sources.services import run_command

    store = ManifestStore(spark, str(tmp_path / "store"))
    n = run_command(
        spark,
        store,
        "fetch_historical",
        {
            "ticker": "SPY",
            "exchange": "US",
            "interval": "1h",
            "start": "2025-07-01 09:30",
            "end": "2025-07-03 16:00",
        },
    )
    assert n == 2  # the mock provider's two intraday bars
    assert store.read_all("historical_intraday").count() == 2

    n2 = run_command(
        spark,
        store,
        "start_stream",
        {"tickers": "SPY", "exchange": "US", "stream_type": "trades", "max_frames": 2},
    )
    assert n2 == 2
    assert store.read_all("streaming").count() == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="Unsupported command type"):
        run_command(spark, store, "bogus", {})


def test_reference_ci_workflow_end_to_end(spark, tmp_path):
    """The reference's CI workflow verbatim (local_ETL.py::test_ci): two
    historical fetches (intraday 1h, interday d) and two stream drains
    (trades, quotes) dispatched as command dicts — every command lands
    rows in the right store mode."""
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.sources.services import run_command

    store = ManifestStore(spark, str(tmp_path / "store"))
    commands = [
        (
            {"ticker": "SPY", "exchange": "US", "interval": "1h",
             "start": "2025-07-02 09:30", "end": "2025-07-03 16:00"},
            "fetch_historical",
        ),
        (
            {"ticker": "VOO", "exchange": "US", "interval": "d",
             "start": "2024-10-25", "end": "2024-11-04"},
            "fetch_historical",
        ),
        ({"stream_type": "trades", "tickers": "SPY", "exchange": "US",
          "max_frames": 20}, "start_stream"),
        ({"stream_type": "quotes", "tickers": "SPY", "exchange": "US",
          "max_frames": 20}, "start_stream"),
    ]
    for command, command_type in commands:
        assert run_command(spark, store, command_type, command) > 0

    assert store.read_all("historical_intraday").count() == 2
    assert store.read_all("historical_interday").count() == 2
    stream_rows = store.read_all("streaming").collect()
    assert len(stream_rows) == 4  # 2 trades + 2 quotes
    assert {r.ticker for r in stream_rows} == {"SPY"}
    # trades carry price/volume, quotes carry ask/bid — one store schema
    assert any(r.price is not None for r in stream_rows)
    assert any(r.ask_price is not None for r in stream_rows)


def test_streaming_sessions_late_event_forms_earlier_session(spark, tmp_path):
    """A late-but-within-watermark event that PRECEDES the open session by
    more than the gap must form its own earlier session, not corrupt the
    open one (the single-open-session formulation merged it)."""
    import json
    import os

    from pyspark.sql import functions as F

    from stock_ops_spark.streaming.stateful import streaming_sessions

    t0 = 1_755_000_000_000
    src = tmp_path / "ev2"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    # batch 1: one event at t0+50min (watermark after batch: t0-10min)
    write("a.json", [{"user_id": 1, "ts_ms": t0 + 3_000_000, "value": 1.0}], 1_000_000)
    # batch 2: a LATE event at t0 (50min older, > gap before the open
    # session; within the 1h watermark) plus a fresh event at t0+3h that
    # pushes the watermark to t0+2h and closes both earlier sessions
    write(
        "b.json",
        [
            {"user_id": 1, "ts_ms": t0, "value": 2.0},
            {"user_id": 1, "ts_ms": t0 + 10_800_000, "value": 3.0},
        ],
        1_000_100,
    )

    stream = (
        spark.readStream.schema("user_id long, ts_ms long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts"), "value")
    )
    q = (
        streaming_sessions(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_late")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r.session_start_ms, r.session_end_ms, r.n_events, r.sum_value)
        for r in spark.sql("select * from sess_late").collect()
    )
    # two distinct closed sessions: the late singleton at t0 and the
    # original at t0+50min — neither merged, starts intact
    assert rows == [(t0, t0, 1, 2.0), (t0 + 3_000_000, t0 + 3_000_000, 1, 1.0)]


def test_running_ewma_across_micro_batches(spark, tmp_path):
    """The exact EWMA recurrence folds per micro-batch in keyed state:
    after draining two ordered batches the value equals the hand-computed
    sequential fold over the full series."""
    from stock_ops_spark.streaming.stateful import running_ewma

    b0 = spark.createDataFrame(
        [("AAA", 1, 1, 10.0), ("AAA", 2, 2, 20.0)],
        "ticker string, ts long, tiebreak long, value double",
    )
    b1 = spark.createDataFrame(
        [("AAA", 3, 3, 30.0), ("BBB", 1, 1, 7.0)],
        "ticker string, ts long, tiebreak long, value double",
    )
    src = tmp_path / "ewma_src"
    src.mkdir()
    b0.coalesce(1).write.parquet(str(src / "b0.parquet"))
    b1.coalesce(1).write.parquet(str(src / "b1.parquet"))

    stream = (
        spark.readStream.schema("ticker string, ts long, tiebreak long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    name = "ewma_sink_test"
    q = (
        running_ewma(stream, alpha=0.5)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    # latest emission per key (update mode re-emits per batch)
    rows = spark.table(name).collect()
    latest = {}
    for r in rows:
        latest[r["ticker"]] = (r["ewma"], r["n_ticks"]) if (
            r["ticker"] not in latest or r["n_ticks"] > latest[r["ticker"]][1]
        ) else latest[r["ticker"]]
    # AAA: s0=10; s1=.5*20+.5*10=15; s2=.5*30+.5*15=22.5
    assert latest["AAA"] == (22.5, 3)
    assert latest["BBB"] == (7.0, 1)
