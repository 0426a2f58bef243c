"""Golden-fixture semantics per FIXTURES.md, on the one delta kernel
(``versioned_delta_arrow``): exact-dup skip, key-conflict versioning,
all-null-payload rejection, order independence, co-timestamped
trade+quote coexistence; and the O5 current view."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.versioning import latest_version_view
from stock_ops_spark.sources.ingest import versioned_delta_arrow

TZ = "America/New_York"

# streaming fixture rows (shape of FIXTURES.md §3/§4) incl. the anomalies:
# an exact duplicate, and a co-timestamped trade+quote pair
STREAM_ROWS = [
    ("SPY", 1755526571834, 643.155, 10, None, None, None, None),
    ("SPY", 1755526670499, 643.10, 5, None, None, None, None),
    ("SPY", 1755526670499, 643.10, 5, None, None, None, None),  # exact dup
    ("SPY", 1755526651074, None, None, 643.205, 643.1985, 1, 1),  # quote
    ("SPY", 1755526651074, 642.99, 7, None, None, None, None),  # co-ts trade
    ("VOO", 1755526571834, 590.01, 3, None, None, None, None),  # 2nd ticker
]

INTERDAY_COLS = ["ticker", "date", "open", "high", "low", "close", "adjusted_close", "volume", "interval"]


def _table(rows, mode):
    schema = S.SCHEMAS[mode]
    return pa.Table.from_pylist(
        [dict(zip(schema.fieldNames(), r)) for r in rows],
        schema=to_arrow_schema(schema),
    )


def _delta(rows, mode, prior=None):
    """The kernel's delta of ``rows`` against the stored rows ``prior``."""
    return versioned_delta_arrow(_table(rows, mode), prior, mode, TZ)


def _pick(tbl, *cols):
    return list(zip(*(tbl[c].to_pylist() for c in cols)))


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_exact_dup_skipped_order_independent(seed):
    rows = STREAM_ROWS[:]
    random.Random(seed).shuffle(rows)
    out = _delta(rows, "streaming")
    got = set(_pick(out, "ticker", "timestamp_UTC_ms", "price", "version"))
    # dup stored once → 5 logical rows regardless of input order; the
    # co-timestamped trade+quote pair shares a key so it carries versions
    # {1,2}; every other key has a single version-1 row
    assert len(got) == 5
    co_versions = sorted(v for (_, ts, _, v) in got if ts == 1755526651074)
    assert co_versions == [1, 2]
    assert all(v == 1 for (_, ts, _, v) in got if ts != 1755526651074)


def test_key_conflict_versions(spark):
    import datetime

    d = datetime.date(2024, 10, 25)
    rows = [
        ("VOO", d, 534.65, 537.26, 531.41, 532.26, 527.10, 4327190, "d"),
        ("VOO", d, 999.99, 537.26, 531.41, 532.26, 527.10, 4327190, "d"),  # changed open
    ]
    out = _delta(rows, "historical_interday")
    assert sorted(out["version"].to_pylist()) == [1, 2]
    latest = latest_version_view(
        spark.createDataFrame(out), S.INDEX_COLS["historical_interday"]
    )
    assert latest.count() == 1
    assert latest.collect()[0].version == 2


def test_version_continues_from_existing():
    import datetime

    d = datetime.date(2024, 10, 25)
    base = [("VOO", d, 534.65, None, None, None, None, None, "d")]
    existing = _delta(base, "historical_interday")
    batch = [
        ("VOO", d, 534.65, None, None, None, None, None, "d"),  # exact dup of stored
        ("VOO", d, 777.77, None, None, None, None, None, "d"),  # conflict
    ]
    appended = _delta(batch, "historical_interday", existing)
    # dup dropped, conflict gets max+1
    assert _pick(appended, "open", "version") == [(777.77, 2)]


def test_allnull_payload_dropped():
    rows = [
        ("SPY", 1751486400, None, None, None, None, None, "1h"),  # all-null payload
        ("SPY", 1751463000, 617.24, 618.72, 616.61, 618.60, None, "1h"),  # null volume OK
    ]
    out = _delta(rows, "historical_intraday")
    assert _pick(out, "timestamp_UTC_s", "volume", "version") == [
        (1751463000, None, 1)
    ]


def test_co_timestamped_trade_quote_both_stored():
    out = _delta(STREAM_ROWS, "streaming")
    co = [
        v for ts, v in _pick(out, "timestamp_UTC_ms", "version")
        if ts == 1755526651074
    ]
    # Both rows stored.  Reference versioning looks up max version by index
    # key only (sql_db.py:499-506), so the second arrival of the pair gets
    # version 2 (arrival-order-dependent there; deterministic payload-order
    # here).  FIXTURES.md §anomaly-6 says "both version 1", but the
    # reference code yields {1,2}; we follow the code.
    assert sorted(co) == [1, 2]


def test_latest_version_view_as_of_snapshot(spark):
    """Time travel on the versioned log: as_of=N reads the current view
    as it stood when N was the newest version."""
    from stock_ops_spark.operators.versioning import latest_version_view

    rows = [
        ("k1", 0, "a"), ("k1", 1, "b"), ("k1", 2, "c"),
        ("k2", 0, "x"),
        ("k3", 2, "z"),  # key born at version 2
    ]
    df = spark.createDataFrame(rows, "k string, version long, payload string")

    now = {r["k"]: r["payload"] for r in latest_version_view(df, ["k"]).collect()}
    assert now == {"k1": "c", "k2": "x", "k3": "z"}

    then = {r["k"]: r["payload"] for r in latest_version_view(df, ["k"], as_of=1).collect()}
    assert then == {"k1": "b", "k2": "x"}  # k3 did not exist yet

    birth = {r["k"]: r["payload"] for r in latest_version_view(df, ["k"], as_of=0).collect()}
    assert birth == {"k1": "a", "k2": "x"}


def test_latest_version_arrow_matches_window(spark):
    """The driver pick equals the window: NULL keys are one key, as the
    window partitions them, and the rows keep the table's order; a NULL
    version declines to the Spark path."""
    import pyarrow as pa

    from stock_ops_spark.sources.ingest import latest_version_arrow

    tbl = pa.table({
        "k": ["a", "a", None, "b", None, "a"],
        "iv": ["1h", "1h", "1d", None, "1d", "1d"],
        "version": pa.array([1, 3, 2, 1, 5, 2], pa.int32()),
        "row": [0, 1, 2, 3, 4, 5],
    })
    want = latest_version_view(spark.createDataFrame(tbl), ["k", "iv"])
    got = latest_version_arrow(tbl, ["k", "iv"])
    assert got["row"].to_pylist() == [1, 3, 4, 5]
    assert sorted(r.row for r in want.collect()) == got["row"].to_pylist()
    nulls = tbl.set_column(2, "version", pa.array([1, None, 2, 1, 5, 2], pa.int32()))
    assert latest_version_arrow(nulls, ["k", "iv"]) is None
