"""End-to-end store semantics: ingest → partition layout → versioning →
stats → read API (FIXTURES.md anomalies through the full path)."""

from __future__ import annotations

import datetime

import pytest

from stock_ops_spark import schemas as S
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.reader import EmptyReadError, ReadProcess

# intraday rows spanning two days of July 2025 (same month partition),
# exchange tz America/New_York; 1751463000 = 2025-07-02 09:30:00 EDT
INTRADAY_ROWS = [
    ("SPY", 1751463000, 617.24, 618.72, 616.61, 618.60, 11824245, "1h"),
    ("SPY", 1751466600, 618.60, 619.00, 617.50, 618.10, 900000, "1h"),
    ("SPY", 1751549400, 620.00, 621.00, 619.00, 620.50, 800000, "1h"),  # next day
    ("SPY", 1751486400, None, None, None, None, None, "1h"),  # all-null → dropped
    ("VOO", 1751463000, 567.00, 568.00, 566.00, 567.50, 100, "1h"),
]

STREAM_ROWS = [
    ("SPY", 1755526571834, 643.155, 10, None, None, None, None),
    ("SPY", 1755526670499, 643.10, 5, None, None, None, None),
    ("SPY", 1755526670499, 643.10, 5, None, None, None, None),  # exact dup
    ("SPY", 1755526651074, None, None, 643.205, 643.1985, 1, 1),  # quote
    ("SPY", 1755526651074, 642.99, 7, None, None, None, None),  # co-ts trade
]


@pytest.fixture()
def store(spark, tmp_path):
    return ManifestStore(spark, str(tmp_path / "store"))


def _land(spark, store, tmp_path, df, mode: str, origin: str) -> int:
    """Put ``df`` into ``store`` and return the rows it holds afterwards.
    ``manifest``: committed with ``ingest_batch``.  ``parquet``: deduped
    and versioned in a scratch store, written as a plain ``partitionBy``
    parquet tree (the pre-manifest history shape) and adopted with
    ``convert_from`` — the same semantics must hold either way."""
    if origin == "manifest":
        return store.ingest_batch(df, mode)
    from stock_ops_spark.sources.layout import PARTITION_COLS

    src = ManifestStore(spark, str(tmp_path / "src"))
    src.ingest_batch(df, mode)
    path = str(tmp_path / "hive")
    src.read_all(mode).write.partitionBy(*PARTITION_COLS[mode]).parquet(path)
    return store.convert_from(path, mode)["adopted_rows"]


def _has_partition_dir(root: str, *parts: str) -> bool:
    """True when the Hive partition path exists inside a batch-* dir."""
    import glob as _glob
    import os

    return bool(_glob.glob(os.path.join(root, "batch-*", *parts)))


def test_intraday_ingest_partitions_and_read(spark, store, tmp_path):
    df = spark.createDataFrame(INTRADAY_ROWS, schema=S.HISTORICAL_INTRADAY)
    n = store.ingest_batch(df, "historical_intraday")
    assert n == 4  # all-null payload row dropped (P5)

    # partition directories derive from exchange-local event time (A2)
    root = store.data_path("historical_intraday")
    assert _has_partition_dir(root, "year=2025", "month=7")

    rp = ReadProcess(store)
    out = rp.read_dt_range(
        "historical_intraday",
        "SPY",
        "2025-07-02 00:00",
        "2025-07-02 23:59",
        interval="1h",
    )
    rows = out.collect()
    assert [r.timestamp_UTC_s for r in rows] == [1751463000, 1751466600]  # sorted, day-filtered
    assert all(r.version == 1 for r in rows)

    # pandas materialization with tz-aware index (S7)
    pdf = rp.to_pandas(out, "historical_intraday")
    assert str(pdf.index.tz) == "America/New_York"
    assert pdf.index[0].hour == 9 and pdf.index[0].minute == 30


def test_reingest_dedups_and_versions(spark, store):
    df = spark.createDataFrame(INTRADAY_ROWS, schema=S.HISTORICAL_INTRADAY)
    store.ingest_batch(df, "historical_intraday")
    # re-ingest same batch: all rows are exact dups → nothing appended
    assert store.ingest_batch(df, "historical_intraday") == 0

    # conflicting payload for an existing key → version 2
    conflict = spark.createDataFrame(
        [("SPY", 1751463000, 999.0, 999.0, 999.0, 999.0, 1, "1h")],
        schema=S.HISTORICAL_INTRADAY,
    )
    assert store.ingest_batch(conflict, "historical_intraday") == 1
    hist = store.read_all("historical_intraday")
    versions = [
        r.version
        for r in hist.where(
            (hist.ticker == "SPY") & (hist.timestamp_UTC_s == 1751463000)
        ).collect()
    ]
    assert sorted(versions) == [1, 2]

    # latest view picks the conflict row
    latest = store.latest("historical_intraday")
    row = latest.where(
        (latest.ticker == "SPY") & (latest.timestamp_UTC_s == 1751463000)
    ).collect()[0]
    assert row.open == 999.0 and row.version == 2


def test_stats_incremental_merge(spark, store):
    df = spark.createDataFrame(INTRADAY_ROWS, schema=S.HISTORICAL_INTRADAY)
    store.ingest_batch(df, "historical_intraday")
    ts = {r.ticker: r for r in store.table_stats("historical_intraday").collect()}
    assert ts["SPY"].row_count == 3
    assert ts["SPY"].min_ts == 1751463000 and ts["SPY"].max_ts == 1751549400
    assert ts["VOO"].row_count == 1

    # second batch merges O(1): counts add, min/max extend
    more = spark.createDataFrame(
        [("SPY", 1751999999, 1.0, 1.0, 1.0, 1.0, 1, "5m")],
        schema=S.HISTORICAL_INTRADAY,
    )
    store.ingest_batch(more, "historical_intraday")
    ts2 = {r.ticker: r for r in store.table_stats("historical_intraday").collect()}
    assert ts2["SPY"].row_count == 4 and ts2["SPY"].max_ts == 1751999999

    ivs = {
        (r.ticker, r.interval): r
        for r in store.interval_stats("historical_intraday").collect()
    }
    assert ivs[("SPY", "1h")].row_count == 3
    assert ivs[("SPY", "5m")].row_count == 1


@pytest.mark.parametrize("origin", ["manifest", "parquet"])
def test_streaming_mode_day_partitions(spark, store, tmp_path, origin):
    df = spark.createDataFrame(STREAM_ROWS, schema=S.STREAMING)
    n = _land(spark, store, tmp_path, df, "streaming", origin)
    assert n == 4  # dup collapsed
    # a replay of the batch dedups against what landed
    assert store.ingest_batch(df, "streaming") == 0
    root = store.data_path("streaming")
    # 1755526571834 ms = 2025-08-18 in America/New_York
    assert _has_partition_dir(root, "year=2025", "month=8", "day=18")
    # streaming mode keeps no interval stats (A6 non-streaming only)
    assert store.interval_stats("streaming") is None


@pytest.mark.parametrize("origin", ["manifest", "parquet"])
def test_interday_roundtrip_and_empty_raise(spark, store, tmp_path, origin):
    rows = [
        ("VOO", datetime.date(2024, 10, 25), 534.65, 537.26, 531.41, 532.26, 527.10, 4327190, "d"),
        ("VOO", datetime.date(2024, 10, 28), 535.00, 538.00, 533.00, 537.00, 531.80, 4000000, "d"),
    ]
    df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTERDAY)
    assert _land(spark, store, tmp_path, df, "historical_interday", origin) == 2
    rp = ReadProcess(store)
    out = rp.read_dt_range("historical_interday", "VOO", "2024-10-25", "2024-10-25", "d")
    assert out.count() == 1

    with pytest.raises(EmptyReadError):
        rp.read_dt_range("historical_interday", "VOO", "1999-01-01", "1999-01-02", "d")
    with pytest.raises(EmptyReadError):
        rp.read_dt_range("historical_interday", "SPY", "2024-10-25", "2024-10-25", "d")


def test_schema_evolution_extra_column(spark, store):
    """§1.3: a batch carrying a new column appends without rewriting old
    files; reads surface the union schema with NULLs; dedup/versioning
    treat the new column as payload."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(INTRADAY_ROWS[:2], schema=S.HISTORICAL_INTRADAY)
    assert store.ingest_batch(base, "historical_intraday") == 2

    evolved = (
        spark.createDataFrame(
            [("SPY", 1751470200, 619.0, 620.0, 618.0, 619.5, 100, "1h")],
            schema=S.HISTORICAL_INTRADAY,
        ).withColumn("vwap", F.lit(619.2))
    )
    assert store.ingest_batch(evolved, "historical_intraday") == 1

    allrows = store.read_all("historical_intraday")
    assert "vwap" in allrows.columns
    got = {r.timestamp_UTC_s: r for r in allrows.collect()}
    assert got[1751470200].vwap == 619.2
    assert got[1751463000].vwap is None  # old file NULL-fills

    # same key+payload WITH the same extra column → exact dup, skipped
    assert store.ingest_batch(evolved, "historical_intraday") == 0
    # same key, different vwap → new version (extra column is payload)
    conflict = evolved.withColumn("vwap", F.lit(700.0))
    assert store.ingest_batch(conflict, "historical_intraday") == 1
    vers = sorted(
        r.version
        for r in store.read_all("historical_intraday")
        .where(F.col("timestamp_UTC_s") == 1751470200)
        .collect()
    )
    assert vers == [1, 2]

    # an old-schema batch still ingests after evolution
    old_shape = spark.createDataFrame(INTRADAY_ROWS[2:3], schema=S.HISTORICAL_INTRADAY)
    assert store.ingest_batch(old_shape, "historical_intraday") == 1


def test_backfill_past_prune_cap_still_dedups(spark, tmp_path, monkeypatch):
    """An ingest touching more partitions than the prune cap must fall back
    to an unpruned store probe (no unbounded driver collect) and keep the
    exact same dedup semantics."""
    from stock_ops_spark.sources import commitlog as CL
    from stock_ops_spark.sources import ingest as I

    monkeypatch.setattr(I, "_MAX_PRUNE_PARTITIONS", 2)
    monkeypatch.setattr(CL, "_MAX_PRUNE_PARTITIONS", 2)
    store = ManifestStore(spark, str(tmp_path / "store"))
    base = 1736951400  # 2025-01-15 09:30 EST
    day = 86400 * 31
    rows = [
        ("SPY", base + i * day, 1.0, 2.0, 0.5, 1.5, 10, "1h") for i in range(4)
    ]  # 4 distinct months > cap of 2
    df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
    assert store.ingest_batch(df, "historical_intraday") == 4
    # replay the same backfill: every row an exact dup, nothing appended
    assert store.ingest_batch(df, "historical_intraday") == 0
    assert store.read_all("historical_intraday").count() == 4


def test_json_lines_source_ingests(spark, tmp_path):
    """Format breadth: a JSON-lines feed (the wire shape REST providers
    emit) reads with an explicit schema — no inference job — and flows
    through the same ingest path as parquet batches."""
    import json

    from stock_ops_spark import schemas as S

    rows = [
        {"ticker": "AAA", "timestamp_UTC_s": 1751463000 + i, "open": 1.0,
         "high": 2.0, "low": 0.5, "close": 1.5, "volume": 10, "interval": "1h"}
        for i in range(5)
    ]
    src = tmp_path / "feed.jsonl"
    src.write_text("\n".join(json.dumps(r) for r in rows))

    batch = spark.read.schema(S.HISTORICAL_INTRADAY).json(str(src))
    store = ManifestStore(spark, str(tmp_path / "s"))
    assert store.ingest_batch(batch, "historical_intraday") == 5
    # re-sending the same JSON batch is fully deduplicated
    batch2 = spark.read.schema(S.HISTORICAL_INTRADAY).json(str(src))
    assert store.ingest_batch(batch2, "historical_intraday") == 0


def test_read_all_tolerates_uncommitted_store_dir(spark, tmp_path):
    """A reader racing the FIRST commit sees the mode directory already
    created with a batch dir holding only staging debris and a torn
    file.  Nothing is published yet, so that is an empty store (None),
    not an AnalysisException; once a commit lands, the unreferenced
    debris stays invisible."""
    import os

    store = ManifestStore(spark, str(tmp_path / "s"))
    debris = os.path.join(store.data_path("streaming"), "batch-crashed")
    os.makedirs(os.path.join(debris, "_temporary"))
    with open(os.path.join(debris, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert store.read_all("streaming") is None
    df = spark.createDataFrame(STREAM_ROWS, schema=S.STREAMING)
    assert store.ingest_batch(df, "streaming") == 4
    assert store.read_all("streaming").count() == 4
