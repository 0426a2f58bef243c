"""Store maintenance: compaction, retention trim, type-widening migration.

Parity targets: reference XTRIM retention (writer.py:35-37,293-297) and
opportunistic schema migration (sql_db.py:69-173); compaction is the
parquet-native need their SQLite store never has (micro-batch file litter).
Every op is a ManifestStore commit; retention and widening over the
manifest layout are pinned in tests/test_store_unification.py too.
"""

from __future__ import annotations

import os

import pytest

from stock_ops_spark import schemas as S
from stock_ops_spark.sources import services
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.maintenance import _data_files, _widened

# three months across a year boundary, exchange tz America/New_York
# 1734705000 = 2024-12-20 09:30 EST, 1736951400 = 2025-01-15 09:30 EST,
# 1739629800 = 2025-02-15 09:30 EST
ROWS_BY_MONTH = [
    ("SPY", 1734705000, 600.0, 601.0, 599.0, 600.5, 1000, "1h"),
    ("SPY", 1736951400, 610.0, 611.0, 609.0, 610.5, 1100, "1h"),
    ("VOO", 1736951400, 550.0, 551.0, 549.0, 550.5, 500, "1h"),
    ("SPY", 1739629800, 620.0, 621.0, 619.0, 620.5, 1200, "1h"),
]


@pytest.fixture()
def store(spark, tmp_path):
    # no auto-compaction: each ingest stays its own batch dir (the litter)
    return ManifestStore(spark, str(tmp_path / "store"), auto_compact_every=0)


def _live_files(store, mode: str) -> list[str]:
    """Data files of the batch dirs the current manifest references."""
    root = store.data_path(mode)
    return [
        f
        for d in store.log(mode).state()["dirs"]
        for f in _data_files(os.path.join(root, d))
    ]


def _ingest_many_small_batches(spark, store, n_batches=4):
    base = 1736951400
    for i in range(n_batches):
        rows = [("SPY", base + 3600 * i, 1.0 * i, 2.0, 0.5, 1.5, 10 + i, "1h")]
        df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
        assert store.ingest_batch(df, "historical_intraday") == 1


def test_compact_reduces_files_preserves_rows_and_stats(spark, store):
    _ingest_many_small_batches(spark, store, n_batches=4)
    before_files = _live_files(store, "historical_intraday")
    assert len(before_files) >= 4  # one batch dir per micro-batch commit

    before_rows = sorted(map(tuple, store.read_all("historical_intraday").collect()))
    before_stats = sorted(map(tuple, store.table_stats("historical_intraday").collect()))

    res = store.compact("historical_intraday")
    assert res == {"rewritten": 4, "dirs_before": 4}
    # single partition (2025-01) → exactly one live file
    assert len(_live_files(store, "historical_intraday")) == 1

    after_rows = sorted(map(tuple, store.read_all("historical_intraday").collect()))
    assert after_rows == before_rows
    after_stats = sorted(map(tuple, store.table_stats("historical_intraday").collect()))
    assert after_stats == before_stats

    # ingest still works post-compaction (dedup probe sees compacted files)
    df = spark.createDataFrame(
        [("SPY", 1736951400, 0.0, 2.0, 0.5, 1.5, 10, "1h")], schema=S.HISTORICAL_INTRADAY
    )
    assert store.ingest_batch(df, "historical_intraday") == 0  # exact dup

    # steady state: one live dir, nothing to rewrite
    assert store.compact("historical_intraday")["rewritten"] == 0


def test_compact_preserves_ticker_ts_clustering(spark, store):
    for row in ROWS_BY_MONTH:
        df = spark.createDataFrame([row], schema=S.HISTORICAL_INTRADAY)
        store.ingest_batch(df, "historical_intraday")
    store.compact("historical_intraday")

    import pyarrow.parquet as pq

    files = _live_files(store, "historical_intraday")
    assert len(files) == 3  # one file per month partition
    for f in files:
        t = pq.read_table(f, columns=["ticker", "timestamp_UTC_s"]).to_pandas()
        key = list(zip(t["ticker"], t["timestamp_UTC_s"]))
        assert key == sorted(key)  # rows clustered for min/max pruning


def test_retain_drops_old_partitions_metadata_only(spark, store):
    # one commit per month; keep_from is exchange-local, so the cutoff is
    # 2025-01-01 00:00 New York — a UTC-midnight cutoff would keep the
    # 2024-12-31 23:30 EST row (04:30 UTC on Jan 1)
    last_2024 = 1735705800  # 2024-12-31 23:30 EST
    for ts in (1734705000, last_2024):
        df = spark.createDataFrame(
            [("SPY", ts, 600.0, 601.0, 599.0, 600.5, 1000, "1h")],
            schema=S.HISTORICAL_INTRADAY,
        )
        store.ingest_batch(df, "historical_intraday")
    df = spark.createDataFrame(ROWS_BY_MONTH[1:], schema=S.HISTORICAL_INTRADAY)
    store.ingest_batch(df, "historical_intraday")
    log = store.log("historical_intraday")
    assert len(log.state()["dirs"]) == 3

    n = services.run_command(
        spark, store, "maintain_store",
        {"op": "retain", "mode": "historical_intraday", "keep_from": [2025, 1]},
    )
    assert n == 2  # both 2024 batch dirs dropped whole
    retain = log.commits()[-1]
    assert retain["op"] == "retain" and retain["adds"] == []  # no rewrite
    assert len(retain["removes"]) == 2

    left = store.read_all("historical_intraday")
    assert left.count() == 3
    assert {r.year for r in left.select("year").distinct().collect()} == {2025}

    # keep_from deeper than (year, month, day) raises
    with pytest.raises(ValueError):
        services.run_command(
            spark, store, "maintain_store",
            {"op": "retain", "mode": "historical_intraday",
             "keep_from": [2025, 1, 1, 0]},
        )


def test_widened_rules():
    assert _widened({"int64", "double"}) == "double"
    assert _widened({"int32", "int64"}) == "int64"
    assert _widened({"int64", "float"}) == "double"  # float32 can't hold int64
    assert _widened({"null", "int64"}) == "int64"
    with pytest.raises(TypeError):
        _widened({"string", "int64"})


def test_compact_unpartitioned_mode(spark, store):
    # interday mode is unpartitioned: compaction folds the whole
    # dataset's batch dirs into one file
    import datetime as _dt

    rows = [
        ("SPY", _dt.date(2024, 10, d), 1.0, 2.0, 0.5, 1.5, 1.2, 100, "d")
        for d in range(1, 5)
    ]
    for r in rows:
        df = spark.createDataFrame([r], schema=S.HISTORICAL_INTERDAY)
        assert store.ingest_batch(df, "historical_interday") == 1
    assert len(_live_files(store, "historical_interday")) == 4

    before = sorted(map(tuple, store.read_all("historical_interday").collect()))
    res = store.compact("historical_interday")
    assert res["rewritten"] == 4
    assert len(_live_files(store, "historical_interday")) == 1
    after = sorted(map(tuple, store.read_all("historical_interday").collect()))
    assert after == before


def test_compact_preserves_evolved_schema_reads(spark, store):
    # older file lacks the evolved column; compaction must keep the
    # merged-read results identical (old rows surface NULL before and
    # after, physically NULL-filled after the rewrite)
    from pyspark.sql import types as T

    b1 = spark.createDataFrame(
        [("SPY", 1736951400, 1.0, 2.0, 0.5, 1.5, 10, "1h")],
        schema=S.HISTORICAL_INTRADAY,
    )
    store.ingest_batch(b1, "historical_intraday")
    evolved = T.StructType(
        list(S.HISTORICAL_INTRADAY.fields) + [T.StructField("vwap", T.DoubleType(), True)]
    )
    b2 = spark.createDataFrame(
        [("SPY", 1736955000, 1.0, 2.0, 0.5, 1.5, 10, "1h", 1.25)], schema=evolved
    )
    store.ingest_batch(b2, "historical_intraday")

    def snapshot():
        return sorted(
            (r.timestamp_UTC_s, r.vwap)
            for r in store.read_all("historical_intraday").collect()
        )

    before = snapshot()
    store.compact("historical_intraday")
    assert len(_live_files(store, "historical_intraday")) == 1
    after = snapshot()
    assert after == before == [(1736951400, None), (1736955000, 1.25)]
