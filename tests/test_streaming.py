"""Structured Streaming ingest: file-source stand-in for the WebSocket,
foreachBatch writer with full dedup/version semantics, checkpointed
restart, and derived streaming bars (ST1-ST7)."""

from __future__ import annotations

import json
import time

from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.streaming.ingest import (
    file_trade_source,
    stream_ingest,
    streaming_bars,
)

TRADES = [
    {"ticker": "SPY", "timestamp_UTC_ms": 1755526571834, "price": 643.155, "volume": 10},
    {"ticker": "SPY", "timestamp_UTC_ms": 1755526600000, "price": 643.20, "volume": 4},
    {"ticker": "SPY", "timestamp_UTC_ms": 1755526600000, "price": 643.20, "volume": 4},  # dup
    {"ticker": "VOO", "timestamp_UTC_ms": 1755526610000, "price": 590.00, "volume": 2},
]


def _write_burst(dirpath, name, records):
    p = dirpath / name
    with open(p, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_effectively_once(spark, tmp_path):
    src = tmp_path / "socket"
    src.mkdir()
    _write_burst(src, "burst1.json", TRADES[:3])
    _write_burst(src, "burst2.json", TRADES[3:])

    store = ManifestStore(spark, str(tmp_path / "store"))
    q = stream_ingest(
        file_trade_source(spark, str(src)),
        store,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    data = store.read_all("streaming")
    assert data is not None
    rows = data.collect()
    assert len(rows) == 3  # exact dup collapsed (effectively-once)
    assert {r.ticker for r in rows} == {"SPY", "VOO"}

    # late/replayed burst: same data again → nothing new appended (ST2/ST1)
    _write_burst(src, "burst3.json", TRADES[:2])
    q2 = stream_ingest(
        file_trade_source(spark, str(src)),
        store,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert store.read_all("streaming").count() == 3


def test_streaming_bars_derivation(spark, tmp_path):
    src = tmp_path / "socket2"
    src.mkdir()
    _write_burst(src, "b.json", TRADES)

    bars = streaming_bars(file_trade_source(spark, str(src)), bar="5 minutes")
    # complete mode: emit every window each batch — append mode would hold
    # the open window until the watermark passes it (which never happens in
    # a single availableNow batch)
    q = (
        bars.writeStream.outputMode("complete")
        .format("memory")
        .queryName("bars_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from bars_mem").collect()
    spy = [r for r in got if r.ticker == "SPY"]
    assert spy, f"no SPY bars in {got}"
    bar = spy[0]
    assert bar.open == 643.155 and bar.close == 643.20
    assert bar.volume == 18  # 10 + 4 + 4 (bars dedup nothing — raw stream)
    assert bar.n_trades == 3


def test_socket_trade_source_ingest(spark, tmp_path):
    """Drive the real TCP socket source: a local server thread serves JSON
    frames (the WebSocket stand-in at the network level), the stream
    parses, filters malformed frames, and lands in the store."""
    import socket
    import threading

    frames = [
        '{"ticker":"SPY","timestamp_UTC_ms":1755526571834,"price":643.155,"volume":10}',
        "this is not json",  # malformed → dropped
        '{"ticker":"VOO","timestamp_UTC_ms":1755526600000,"price":590.0,"volume":3}',
        '{"price": 1.0}',  # missing required keys → dropped
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        with conn:
            for f in frames:
                conn.sendall((f + "\n").encode())
            import time

            time.sleep(8)  # keep the socket open while micro-batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    from stock_ops_spark.streaming.ingest import socket_trade_source

    stream = socket_trade_source(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("socket_mem")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        got = spark.sql("select * from socket_mem").collect()
        if len(got) >= 2:
            break
        time.sleep(1)
    q.stop()
    srv.close()
    tickers = {r.ticker for r in got}
    assert tickers == {"SPY", "VOO"}  # malformed frames filtered
    assert all(r.timestamp_UTC_ms is not None for r in got)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the streaming-native dedup primitive
    (state bounded by the watermark, unlike global dropDuplicates)."""
    import json

    src = tmp_path / "dw"
    src.mkdir()
    rows = [
        {"ticker": "SPY", "timestamp_UTC_ms": 1755526571834, "price": 1.0, "volume": 1},
        {"ticker": "SPY", "timestamp_UTC_ms": 1755526571834, "price": 1.0, "volume": 1},  # dup
        {"ticker": "SPY", "timestamp_UTC_ms": 1755526580000, "price": 2.0, "volume": 1},
    ]
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    from pyspark.sql import functions as F

    stream = (
        file_trade_source(spark, str(src))
        .withColumn("ts", F.timestamp_millis(F.col("timestamp_UTC_ms")))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["ticker", "timestamp_UTC_ms"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dw_mem")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select ticker, timestamp_UTC_ms from dw_mem").collect()
    assert len(got) == 2  # in-stream dup dropped with bounded state


def test_socket_reconnect_replay_effectively_once(spark, tmp_path):
    """Drop the TCP connection mid-stream, then reconnect to a server that
    replays from the start — the engine-side twin of the reference's
    WebSocket backoff/reconnect loop (eodhd_streaming_service.py:206-266),
    where reconnect delivery is at-least-once.  The socket source is not
    replayable, so effectively-once comes from the store's idempotent
    dedup writer, not the checkpoint: after full replay the store must
    hold each trade exactly once."""
    import socket
    import threading

    from stock_ops_spark.streaming.ingest import socket_trade_source, stream_ingest

    frames = [
        '{"ticker":"SPY","timestamp_UTC_ms":1755526571834,"price":643.155,"volume":10}',
        '{"ticker":"SPY","timestamp_UTC_ms":1755526600000,"price":643.20,"volume":4}',
        '{"ticker":"VOO","timestamp_UTC_ms":1755526610000,"price":590.0,"volume":2}',
        '{"ticker":"VOO","timestamp_UTC_ms":1755526620000,"price":590.5,"volume":1}',
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(2)

    def serve(payload, hold_s):
        conn, _ = srv.accept()
        with conn:
            for f in payload:
                conn.sendall((f + "\n").encode())
            time.sleep(hold_s)
        # abrupt close = the provider dropping the connection

    store = ManifestStore(spark, str(tmp_path / "store"))

    def run_session(payload, expect_rows, hold_s=6):
        t = threading.Thread(target=serve, args=(payload, hold_s), daemon=True)
        t.start()
        q = stream_ingest(
            socket_trade_source(spark, "127.0.0.1", port),
            store,
            trigger_seconds=1,
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                data = store.read_all("streaming")
                if data is not None and data.count() >= expect_rows:
                    break
            except Exception:
                pass  # store dir exists but holds no parquet yet
            time.sleep(1)
        q.stop()
        t.join(timeout=30)

    # session 1: two frames, then the connection drops
    run_session(frames[:2], expect_rows=2)
    assert store.read_all("streaming").count() == 2

    # session 2: reconnect; the provider replays EVERYTHING (at-least-once)
    run_session(frames, expect_rows=4)
    srv.close()

    rows = store.read_all("streaming").collect()
    assert len(rows) == 4  # replayed frames 1-2 collapsed by the dedup writer
    assert {(r.ticker, r.timestamp_UTC_ms) for r in rows} == {
        ("SPY", 1755526571834),
        ("SPY", 1755526600000),
        ("VOO", 1755526610000),
        ("VOO", 1755526620000),
    }


def test_two_streams_one_store_per_batch_commits(spark, tmp_path):
    """Two streaming queries feeding ONE ManifestStore, each micro-batch
    its own ``ingest_batch`` commit: every row lands exactly once, the
    racing commits leave gapless versions, and a replay through a fresh
    checkpoint appends nothing."""
    from stock_ops_spark.sources.commitlog import ManifestStore

    srcs = []
    for si, tk in enumerate(("SPY", "VOO")):
        src = tmp_path / f"in{si}"
        src.mkdir()
        for b in range(3):
            _write_burst(
                src,
                f"burst{b}.json",
                [
                    {
                        "ticker": tk,
                        "timestamp_UTC_ms": 1755526571000 + 60000 * (3 * b + j),
                        "price": 100.0 + j,
                        "volume": 5 + j,
                    }
                    for j in range(3)
                ],
            )
        srcs.append(src)

    store = ManifestStore(spark, str(tmp_path / "store"), auto_compact_every=0)
    qs = [
        stream_ingest(
            file_trade_source(spark, str(src)),
            store,
            checkpoint=str(tmp_path / f"ckpt{si}"),
            available_now=True,
        )
        for si, src in enumerate(srcs)
    ]
    for q in qs:
        q.awaitTermination(180)
    data = store.read_all("streaming")
    assert data.count() == 18  # 2 streams x 3 bursts x 3 rows
    assert data.select("ticker", "timestamp_UTC_ms").distinct().count() == 18
    versions = [c["version"] for c in store.log("streaming").commits()]
    assert versions == list(range(1, 7))  # one commit per burst, gapless
    # replay one stream through a fresh checkpoint: dedup holds
    q3 = stream_ingest(
        file_trade_source(spark, str(srcs[0])),
        store,
        checkpoint=str(tmp_path / "ckpt-replay"),
        available_now=True,
    )
    q3.awaitTermination(180)
    assert store.read_all("streaming").count() == 18
    assert store.version("streaming") == 6
