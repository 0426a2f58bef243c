"""Driver-side reads: a range read, a change-feed span and the stats view
that fit ``MICRO_COMMIT_ROWS`` run in pyarrow and enter Spark as one
local relation.

Contract under test: the driver path returns what the Spark path
returns — the same frame from ``read_dt_range`` + ``to_pandas``
(column order, dtypes, index, bitwise values, ``EmptyReadError``), the
same change feed and the same stats rows — at a fixed, small number of
Spark jobs: none for a micro range read and its pandas frame.  The
Spark path is forced by making ``_read_dirs_arrow`` decline, as an
over-bound read does.
"""

from __future__ import annotations

import contextlib
import datetime as dt
from unittest import mock

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from stock_ops_spark import schemas as S
from stock_ops_spark.localrel import arrow_table
from stock_ops_spark.sources import commitlog as CL
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.ingest import versioned_delta_arrow
from stock_ops_spark.sources.reader import EmptyReadError, ReadProcess

MODES = ("historical_interday", "historical_intraday", "streaming")
TZ = "America/New_York"

# Instants around the range edges the reader must get right: the
# 2024 fall-back and 2025 spring-forward nights, and New Year.
EDGES = [
    "2024-11-02 23:30", "2024-11-03 01:30", "2024-11-03 03:00",
    "2024-12-31 22:00", "2025-01-01 01:00", "2025-03-08 23:59",
    "2025-03-09 01:30", "2025-03-09 03:30", "2025-03-10 00:00",
]


def _epoch(wall: str) -> int:
    naive = dt.datetime.strptime(wall, "%Y-%m-%d %H:%M")
    return int(naive.replace(tzinfo=dt.timezone.utc).timestamp()) + 5 * 3600


def _source_rows(mode: str, extra: bool) -> list[dict]:
    """Rows of two tickers at every edge instant ± 20 minutes; the
    payload holds NaN, -0.0 and NULLs, and ``extra`` adds a column."""
    tsc = S.TS_COL[mode]
    out = []
    for i, wall in enumerate(EDGES):
        for j, shift in enumerate((-1200, 0, 1200)):
            e = _epoch(wall) + shift
            ts = {
                "historical_interday": dt.date(1970, 1, 1)
                + dt.timedelta(days=(e - 5 * 3600) // 86400 + j),
                "historical_intraday": e,
                "streaming": e * 1000,
            }[mode]
            val = [1.5 + i, -0.0, float("nan"), None][(i + j) % 4]
            for ticker in ("SPY", "VOO"):
                r = {"ticker": ticker, tsc: ts}
                if "interval" in S.INDEX_COLS[mode]:
                    r["interval"] = ["1h", "1d"][j % 2]
                for c in S.payload_cols(mode):
                    t = S.SCHEMAS[mode][c].dataType.simpleString()
                    r[c] = val if t == "double" else None if j == 1 else i
                if extra:
                    r["note"] = f"n{i}"
                out.append(r)
    return out


def _table(spark, mode, rows):
    schema = S.SCHEMAS[mode]
    if rows and "note" in rows[0]:
        from pyspark.sql import types as T

        schema = T.StructType(schema.fields + [T.StructField("note", T.StringType())])
    return spark.createDataFrame([tuple(r.get(c) for c in schema.fieldNames()) for r in rows], schema)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """One store per mode: version 1 adopted by ``convert_from`` (the
    path that keeps -0.0 as stored), a re-send with changed payloads
    (version-2 rows), and a later commit that adds a column."""
    out = {}
    for mode in MODES:
        root = tmp_path_factory.mktemp(mode)
        store = ManifestStore(spark, str(root / "store"), auto_compact_every=0)
        rows = _source_rows(mode, extra=False)

        src = pa.Table.from_pylist(rows, schema=to_arrow_schema(S.SCHEMAS[mode]))
        adopted = versioned_delta_arrow(src, None, mode, TZ)
        # keep -0.0 as written: versioned_delta_arrow normalizes it
        neg = [c for c in S.payload_cols(mode) if pa.types.is_floating(adopted[c].type)]
        for c in neg:
            vals = [(-0.0 if v == 0.0 else v) for v in adopted[c].to_pylist()]
            adopted = adopted.set_column(
                adopted.column_names.index(c), c, pa.array(vals, pa.float64())
            )
        tree = str(root / "tree")
        pq.write_to_dataset(adopted, tree, partition_cols=[
            c for c in ("year", "month", "day") if c in adopted.column_names
        ] or None)
        store.convert_from(tree, mode)
        resend = [dict(r, **{c: 7.25 for c in neg}) for r in rows[::3]]
        store.ingest_batch(_table(spark, mode, resend), mode)
        store.ingest_batch(_table(spark, mode, _source_rows(mode, extra=True)[1::3]), mode)
        out[mode] = store
    return out


def _bits(pdf: pd.DataFrame) -> pd.DataFrame:
    """The frame in a canonical row order — Spark's sort leaves ties on
    the time column unordered — with float columns as their bit
    patterns, so -0.0 and NaN compare exactly."""
    pdf = pdf.reset_index(names="__index")
    keys = ["__index"] + [c for c in ("interval", "version") if c in pdf.columns]
    pdf = pdf.sort_values(keys, kind="stable", ignore_index=True)
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].to_numpy().view(np.uint64)
    return pdf


def _spark_path():
    """Force the Spark path: the driver read declines, as over the bound."""
    return mock.patch.object(CL, "_read_dirs_arrow", lambda *a, **kw: None)


def _read(store, mode, args, spark_path: bool):
    rp = ReadProcess(store)
    with _spark_path() if spark_path else contextlib.nullcontext():
        try:
            df = rp.read_dt_range(mode, *args[:3], interval=args[3], latest_only=args[4])
        except EmptyReadError:
            return None, None
        ts = [r[S.TS_COL[mode]] for r in df.collect()]
        return rp.to_pandas(df, mode), ts


def _bound(mode, wall):
    return wall[:10] if mode == "historical_interday" else wall


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    mode=st.sampled_from(MODES),
    ticker=st.sampled_from(["SPY", "VOO", "QQQ"]),
    start=st.sampled_from(EDGES),
    end=st.sampled_from(EDGES),
    interval=st.sampled_from([None, "1h", "1d"]),
    latest_only=st.booleans(),
)
def test_driver_read_matches_spark_read(
    stores, mode, ticker, start, end, interval, latest_only
):
    """``read_dt_range`` + ``to_pandas`` give the same frame on the driver
    path and the Spark path — inverted ranges and unknown tickers raise
    ``EmptyReadError`` on both — and ``collect()`` returns rows in time
    order."""
    if mode == "streaming":
        interval = None
    args = (ticker, _bound(mode, start), _bound(mode, end), interval, latest_only)
    store = stores[mode]
    got, got_ts = _read(store, mode, args, spark_path=False)
    want, want_ts = _read(store, mode, args, spark_path=True)
    assert (got is None) == (want is None)
    if got is None:
        return
    assert got_ts == sorted(got_ts) and want_ts == sorted(want_ts)
    assert list(got.columns) == list(want.columns)
    assert list(got.dtypes) == list(want.dtypes)
    assert got.index.equals(want.index)
    pd.testing.assert_frame_equal(_bits(got), _bits(want), check_exact=True)


def test_driver_read_covers_an_added_column(stores):
    """The later commit's column is NULL-filled in the older dirs, after
    the partition columns, on both paths."""
    args = ("SPY", "2024-11-02 00:00", "2025-03-10 00:00", None, False)
    got, _ = _read(stores["historical_intraday"], "historical_intraday", args, False)
    want, _ = _read(stores["historical_intraday"], "historical_intraday", args, True)
    assert list(got.columns)[-1] == "note" and got["note"].notna().any()
    assert got["note"].isna().any()
    pd.testing.assert_frame_equal(_bits(got), _bits(want), check_exact=True)


def test_micro_read_runs_no_job(spark, tmp_path, stores, spark_jobs):
    """On a micro store ``read_dt_range`` and ``to_pandas`` run no Spark
    job: the read, its interval filter, ``latest_only``'s pick and the
    emptiness check run on the driver's Arrow table, and ``to_pandas``
    converts that table."""
    store = ManifestStore(spark, str(tmp_path / "s"))
    for k in range(3):
        rows = [("SPY", 1755612971834 + 86400_000 * k + i, 600.0 + i, 1,
                 None, None, None, None) for i in range(20)]
        store.ingest_batch(spark.createDataFrame(rows, S.STREAMING), "streaming")
    bars = ("historical_intraday", "SPY", EDGES[0], EDGES[-1])

    def read(st, args, **kw):
        rp = ReadProcess(st)
        df, n_read = spark_jobs(lambda: rp.read_dt_range(*args, **kw))
        pdf, n_pandas = spark_jobs(lambda: rp.to_pandas(df, args[0]))
        assert (n_read, n_pandas) == (0, 0), kw
        return pdf

    pdf = read(store, ("streaming", "SPY", "2025-08-19 00:00", "2025-08-20 23:59"))
    assert len(pdf) == 40
    pdf = read(stores["historical_intraday"], bars, interval="1h")
    assert len(pdf) and set(pdf["interval"]) == {"1h"}
    pdf = read(stores["historical_intraday"], bars, latest_only=True)
    assert len(pdf) and not pdf.duplicated(["timestamp_UTC_s", "interval"]).any()


def test_derived_frame_converts_through_spark(stores, spark_jobs):
    """Only the frame the driver read built keeps its Arrow table: a
    frame derived from it converts through ``toPandas`` (a Spark job)
    and gives the same pandas frame as the direct conversion."""
    mode = "historical_intraday"
    rp = ReadProcess(stores[mode])
    df = rp.read_dt_range(mode, "SPY", EDGES[0], EDGES[-1], interval="1d")
    derived = df.select("*")
    assert arrow_table(df) is not None and arrow_table(derived) is None
    want, direct_jobs = spark_jobs(lambda: rp.to_pandas(df, mode))
    got, derived_jobs = spark_jobs(lambda: rp.to_pandas(derived, mode))
    assert direct_jobs == 0 and derived_jobs >= 1
    assert list(got.dtypes) == list(want.dtypes)
    pd.testing.assert_frame_equal(_bits(got), _bits(want), check_exact=True)


def test_read_where_filters_interval_on_both_paths(stores):
    """``read_where(interval=)`` keeps only that interval's rows, on the
    Spark path as on the driver path."""
    store = stores["historical_intraday"]

    def rows(df):
        return sorted(map(repr, df.collect()))

    got = store.read_where("historical_intraday", ticker="VOO", interval="1h")
    with _spark_path():
        want = store.read_where("historical_intraday", ticker="VOO", interval="1h")
    assert got.isLocal() and not want.isLocal()
    assert {r.interval for r in want.collect()} == {"1h"}
    assert rows(got) == rows(want)
    everything = store.read_where("historical_intraday", ticker="VOO")
    assert 0 < want.count() < everything.count()


def _day_store(spark, tmp_path, n=20):
    """Three streaming commits of ``n`` SPY trades, one local day each
    (2025-08-18/19/20 in America/New_York), written newest first."""
    store = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    for k in (2, 0, 1):
        rows = [("SPY", 1755526571834 + 86400_000 * k + i, 600.0 + i, 1,
                 None, None, None, None) for i in range(n)]
        store.ingest_batch(spark.createDataFrame(rows, S.STREAMING), "streaming")
    return store


@pytest.mark.parametrize("spark_path", [False, True])
def test_read_where_returns_rows_in_time_order(spark, tmp_path, spark_path):
    """``read_where`` owns the ordering: on either path its rows come
    back in time order, with and without time bounds."""
    store = _day_store(spark, tmp_path)
    base = 1755526571834
    with _spark_path() if spark_path else contextlib.nullcontext():
        for bounds in ({}, {"ts_min": base + 10, "ts_max": base + 86400_000 * 2 + 5}):
            df = store.read_where("streaming", ticker="SPY", **bounds)
            assert df.isLocal() != spark_path
            ts = [r.timestamp_UTC_ms for r in df.collect()]
            assert ts == sorted(ts) and len(ts) == (60 if not bounds else 36)


def test_read_where_decides_from_recorded_counts(spark, tmp_path, driver_reads, monkeypatch):
    """The manifest's per-dir row counts pick the path without I/O where
    they can: kept dirs that sum within the bound are read with no
    footer counted; dirs wholly inside the range that already hold
    more go to Spark with no dataset opened; only a read in between
    counts its fragments' footers."""
    store = _day_store(spark, tmp_path)
    monkeypatch.setattr(CL, "MICRO_COMMIT_ROWS", 30)
    base = 1755526571834
    day = 86400_000

    def read(lo, hi):
        for k in driver_reads:
            driver_reads[k].clear()
        df = store.read_where("streaming", ticker="SPY", ts_min=lo, ts_max=hi)
        return df, [r.timestamp_UTC_ms for r in df.collect()]

    # one kept dir of 20 rows: fits, read uncounted
    df, ts = read(base + day, base + day + 9)
    assert df.isLocal() and len(ts) == 10
    assert driver_reads["dirs"] and not driver_reads["counted"]
    # three dirs of 20 rows wholly inside the range: 60 > 30, nothing opened
    df, ts = read(base, base + 2 * day + 19)
    assert not df.isLocal() and ts == sorted(ts) and len(ts) == 60
    assert not driver_reads["dirs"]
    # two dirs partly inside: only their footers can tell, 40 > 30
    df, ts = read(base + day + 10, base + 2 * day + 4)
    assert not df.isLocal() and len(ts) == 15
    assert driver_reads["counted"] and not driver_reads["fragments"]


def test_change_feed_decides_from_recorded_counts(spark, tmp_path, driver_reads, monkeypatch):
    """An ingest-only span whose recorded row counts sum over the bound
    goes to the Spark reads with no dir opened; one within it is read on
    the driver with no footer counted."""
    store = _day_store(spark, tmp_path)
    monkeypatch.setattr(CL, "MICRO_COMMIT_ROWS", 59)
    df = store.read_changes("streaming")
    assert not df.isLocal() and df.count() == 60
    assert not driver_reads["dirs"]
    monkeypatch.setattr(CL, "MICRO_COMMIT_ROWS", 60)
    df = store.read_changes("streaming")
    assert df.isLocal() and df.count() == 60
    assert len(driver_reads["dirs"]) == 3 and not driver_reads["counted"]


def test_change_feed_count_runs_at_most_two_jobs(spark, tmp_path, spark_jobs):
    """A count over a 12-commit feed reads the span on the driver: at most
    2 jobs, where one schema-inference job per commit made it 14."""
    store = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    for k in range(12):
        rows = [("SPY", 1755612971834 + 60_000 * k + i, 600.0 + i, 1,
                 None, None, None, None) for i in range(5)]
        store.ingest_batch(spark.createDataFrame(rows, S.STREAMING), "streaming")
    n, jobs = spark_jobs(lambda: store.read_changes("streaming").count())
    assert n == 60
    assert jobs <= 2


def test_change_feed_on_driver_matches_spark(spark, stores):
    """The driver-built feed equals the Spark-built one: schema (the added
    column after ``_commit_version``) and rows, ``_change_type`` derived
    from the version column."""
    store = stores["streaming"]
    got = store.read_changes("streaming")
    assert got.isLocal()
    with _spark_path():
        want = store.read_changes("streaming")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert got.columns[-3:] == ["_change_type", "_commit_version", "note"]
    key = [F.col(c) for c in ("_commit_version", "timestamp_UTC_ms", "ticker", "version")]
    # repr keeps NaN and -0.0 apart from their look-alikes
    assert [repr(r) for r in got.orderBy(*key).collect()] == [
        repr(r) for r in want.orderBy(*key).collect()
    ]


@pytest.mark.parametrize("state", ["snapshot", "snapshot+increments", "increments"])
def test_stats_fold_on_driver_matches_spark_fold(spark, tmp_path, state, spark_jobs):
    """``table_stats`` and ``interval_stats``, folded in pyarrow from
    the live dirs' recorded stats, equal ``batch_stats`` over the
    snapshot — column names, types and rows — and run no job, whether
    the last commit is a delete (``snapshot``), ingests follow a delete
    (``snapshot+increments``) or the log holds ingests only
    (``increments``)."""
    from stock_ops_spark.operators.stats import batch_stats

    mode = "historical_intraday"
    store = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)

    def ingest(day):
        rows = [(t, 1751463000 + 86400 * day + 60 * i, 1.0, 2.0, 0.5, 1.5, 10, iv)
                for t in ("SPY", "VOO") for i in range(3) for iv in ("1h", "1d")]
        store.ingest_batch(spark.createDataFrame(rows, S.HISTORICAL_INTRADAY), mode)

    ingest(0)
    if state != "increments":
        store.delete_where(mode, (F.col("ticker") == "VOO") & (F.col("interval") == "1d"))
    if state != "snapshot":
        ingest(1)
        ingest(2)
    for which in ("table", "interval"):
        got, jobs = spark_jobs(lambda: (
            store.table_stats(mode) if which == "table" else store.interval_stats(mode)
        ))
        assert jobs == 0 and got.isLocal()
        want = batch_stats(store.read_all(mode), mode, which == "interval")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert sorted(got.collect()) == sorted(want.collect())
