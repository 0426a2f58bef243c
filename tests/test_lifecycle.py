"""The reference's complete lifecycle in one test (local_reader_manual
parity, reference local_workflows/reader_local/local_reader_manual.py:248-270):

  provider fetch → normalize → ingest (dedup/version/partition/stats)
  → range read → session OHLC from stored trades
  → as-of nearest open/close vs the stored daily candle
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.asof import asof_join_nearest
from stock_ops_spark.operators.ohlc import session_ohlc
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.reader import ReadProcess
from stock_ops_spark.sources.transform import interday, trades


def test_full_lifecycle_trades_to_session_ohlc(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "s"))

    # --- ingest a day of trades (2025-08-18, NY session) via the S2 path
    # 13:30 UTC = 09:30 EDT session open; 20:00 UTC = 16:00 close
    base = 1755524600000  # ~13:43 UTC
    raw = spark.createDataFrame(
        [
            ("SPY", base - 3_600_000, 640.00, 5),   # pre-session → excluded
            ("SPY", base, 643.10, 10),              # first in-session trade
            ("SPY", base + 60_000, 644.50, 5),      # high
            ("SPY", base + 120_000, 642.20, 8),     # low
            ("SPY", base + 180_000, 643.80, 4),     # last → close
            ("SPY", base + 30_000_000, 650.0, 1),   # post-session → excluded
        ],
        "s string, t long, p double, v long",
    )
    normalized, _ = trades(raw)
    assert store.ingest_batch(normalized, "streaming") == 6

    # --- ingest the daily candle via the S1 path
    daily_raw = spark.createDataFrame(
        [("2025-08-18", 642.9, 644.8, 641.9, 643.9, 643.9, 1_000_000)],
        "date string, open double, high double, low double, close double, "
        "adjusted_close double, volume long",
    )
    daily, _ = interday(daily_raw, "SPY", "d")
    assert store.ingest_batch(daily, "historical_interday") == 1

    # --- range read (partition-pruned) then session OHLC in exchange tz
    rp = ReadProcess(store)
    day = rp.read_dt_range("streaming", "SPY", "2025-08-18 00:00", "2025-08-18 23:59")
    ohlc = session_ohlc(
        day.where(F.col("price").isNotNull()),
        F.timestamp_millis(F.col("timestamp_UTC_ms")),
        F.col("price"),
        tz=store.tz,
    ).collect()
    assert len(ohlc) == 1
    r = ohlc[0]
    assert (r.open, r.high, r.low, r.close, r.n_trades) == (
        643.10,
        644.50,
        642.20,
        643.80,
        4,
    )

    # --- compare to the stored daily candle (the reference's final check)
    candle = rp.read_dt_range(
        "historical_interday", "SPY", "2025-08-18", "2025-08-18", "d"
    ).collect()[0]
    assert abs(r.open - candle.open) < 1.0  # session-derived ≈ provider candle
    assert abs(r.close - candle.close) < 1.0

    # --- as-of: nearest trade to an arbitrary probe timestamp
    probe = spark.createDataFrame(
        [(1, base + 70_000)], "probe_id long, timestamp_UTC_ms long"
    )
    trades_stored = day.where(F.col("price").isNotNull()).select(
        "timestamp_UTC_ms", "price"
    ).groupBy("timestamp_UTC_ms").agg(F.max("price").alias("price"))
    nearest = asof_join_nearest(
        probe, trades_stored, on="timestamp_UTC_ms", right_value_cols=["price"]
    ).collect()[0]
    assert nearest.price_right == 644.50  # base+60s is closest to base+70s

    # --- stats kept in lockstep
    st = {r2.ticker: r2 for r2 in store.table_stats("streaming").collect()}
    assert st["SPY"].row_count == 6
