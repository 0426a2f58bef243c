"""Stats recorded in the commit meta stay exact, and the change feed has
one meaning.

``ManifestStore.table_stats`` / ``interval_stats`` fold the per-key stats
each live batch dir records in its commit meta.  After every operation of
a random sequence — ingests with re-sends and NULL keys, merge, delete,
retention with and without CDC, compaction, restore and vacuum — both
views must equal ``batch_stats`` over the snapshot (``read_all``), column
names and types as well as rows, in all three modes; and the
``stockops_cdc`` stream reader must yield what ``read_changes`` returns
over the whole log, or raise the same exception.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.stats import batch_stats
from stock_ops_spark.sources.commitlog import (
    ChangeFeedGap,
    ManifestStore,
    VacuumedVersion,
)
from stock_ops_spark.sources.pyds import ManifestCDCStreamReader

DAY0 = dt.date(2025, 7, 1)
INTERVALS = {"historical_interday": ("d", "w"),
             "historical_intraday": ("1h", "5m"),
             "streaming": (None,)}


def _nullable(mode: str) -> T.StructType:
    return T.StructType([
        T.StructField(f.name, f.dataType, True) for f in S.SCHEMAS[mode].fields
    ])


def _ts(mode: str, day):
    """The mode's time value ``day`` days (plus an hour, for the
    intraday modes) after ``DAY0``; None stays None."""
    if day is None:
        return None
    if mode == "historical_interday":
        return DAY0 + dt.timedelta(days=day)
    s = 1_751_328_000 + 86_400 * day + 3_600
    return s * 1000 if mode == "streaming" else s


def _frame(spark, mode: str, rows):
    """Store rows from ``(ticker, day, interval index, price)`` specs:
    every double column carries ``price``, every long one 10."""
    schema = _nullable(mode)
    tsc = S.TS_COL[mode]
    out = []
    for ticker, day, iv, price in rows:
        vals = {"ticker": ticker, tsc: _ts(mode, day),
                "interval": INTERVALS[mode][iv % len(INTERVALS[mode])]}
        out.append(tuple(
            vals[f.name] if f.name in vals
            else price if isinstance(f.dataType, T.DoubleType)
            else 10 if isinstance(f.dataType, T.LongType)
            else None
            for f in schema.fields
        ))
    return spark.createDataFrame(out, schema)


_ROW = st.tuples(
    st.sampled_from(["SPY", "VOO", None]),
    st.one_of(st.integers(0, 3), st.none()),
    st.integers(0, 1),
    st.sampled_from([1.0, 2.0]),
)
_KEYED = st.tuples(
    st.sampled_from(["SPY", "VOO"]), st.integers(0, 3), st.integers(0, 1),
    st.sampled_from([3.0, 4.0]),
)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("ingest"), st.lists(_ROW, min_size=1, max_size=5)),
        st.tuples(st.just("resend")),
        st.tuples(st.just("merge"), st.lists(_KEYED, min_size=1, max_size=3)),
        st.tuples(st.just("delete"), st.sampled_from(["SPY", "VOO"])),
        st.tuples(st.just("retain"), st.integers(1, 3), st.booleans()),
        st.tuples(st.just("compact")),
        st.tuples(st.just("restore"), st.integers(1, 3)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=2,
    max_size=6,
)


def _apply(spark, store, mode: str, op, sent: list) -> None:
    kind = op[0]
    if kind == "ingest":
        sent[:] = op[1]
        store.ingest_batch(_frame(spark, mode, op[1]), mode)
    elif kind == "resend":
        # the last batch again with a new payload: conflict-versioned rows
        store.ingest_batch(
            _frame(spark, mode, [(t, d, i, p + 10) for t, d, i, p in sent]), mode
        )
    elif kind == "merge":
        # the source is unique on the mode's keys (streaming: no interval)
        uniq = {r[:2] if mode == "streaming" else r[:3]: r for r in op[1]}
        store.merge(_frame(spark, mode, list(uniq.values())), mode)
    elif kind == "delete":
        store.delete_where(mode, F.col("ticker") == op[1])
    elif kind == "retain":
        store.retain_before(mode, _ts(mode, op[1]), cdc=op[2])
    elif kind == "compact":
        store.compact(mode)
    elif kind == "restore":
        log = store.log(mode)
        if log.version():
            store.restore(mode, max(log.min_version(), log.version() - op[1]))
    else:
        store.vacuum(mode, retain_last=op[1])


def _check(spark, store, mode: str) -> None:
    if not store.version(mode):
        assert store.table_stats(mode) is None
        return
    snap = store.read_all(mode)
    if snap is None:  # no live dir: the views are empty, not None
        snap = spark.createDataFrame([], _nullable(mode))
    for which in ("table", "interval"):
        got = (store.table_stats if which == "table" else store.interval_stats)(mode)
        if which == "interval" and mode == "streaming":
            assert got is None  # streaming rows carry no interval
            continue
        want = batch_stats(snap, mode, which == "interval")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        ), (which, mode)


def _outcome(rows):
    """``rows()`` sorted, or the class of the feed error it raised."""
    try:
        return sorted(rows(), key=repr)
    except (VacuumedVersion, ChangeFeedGap) as e:
        return type(e)


def _check_feed(store, mode: str) -> None:
    """Commits (0, head] through the stream reader, called directly (no
    streaming query), against ``read_changes`` on the stream's
    columns."""
    rdr = ManifestCDCStreamReader({"store_root": store.root, "mode": mode})
    head = {"version": store.version(mode)}

    def batch():
        df = store.read_changes(mode, 0)
        return [] if df is None else map(tuple, df.select(*rdr.cols).collect())

    assert _outcome(
        lambda: rdr.readBetweenOffsets({"version": 0}, head)
    ) == _outcome(batch), mode


@pytest.mark.parametrize("mode", sorted(S.SCHEMAS))
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_stats_exact_after_random_ops(spark, mode, ops):
    root = tempfile.mkdtemp(prefix="stats-manifest-")
    try:
        store = ManifestStore(spark, root, auto_compact_every=0)
        sent: list = [("SPY", 0, 0, 1.0)]
        for op in ops:
            _apply(spark, store, mode, op, sent)
            _check(spark, store, mode)
            _check_feed(store, mode)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_retain_of_whole_dirs_runs_no_job(spark, tmp_path, spark_jobs):
    """A ``retain_before(cdc=False)`` whose expired dirs all lie wholly
    below the cutoff reads nothing: their recorded stats leave the views
    with them, so the commit runs no Spark job, and neither does
    ``table_stats``."""
    mode = "historical_intraday"
    store = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    for day in range(4):
        rows = [(t, day, i, 1.0) for t in ("SPY", "VOO") for i in (0, 1)]
        store.ingest_batch(_frame(spark, mode, rows), mode)
    res, jobs = spark_jobs(
        lambda: store.retain_before(mode, _ts(mode, 2), cdc=False)
    )
    assert res["deleted_dirs"] == 2 and res["rewritten_dirs"] == 0
    assert jobs == 0
    got, jobs = spark_jobs(lambda: store.table_stats(mode))
    assert jobs == 0
    assert sorted(map(tuple, got.collect())) == [
        ("SPY", 4, _ts(mode, 2), _ts(mode, 3)),
        ("VOO", 4, _ts(mode, 2), _ts(mode, 3)),
    ]


def _keys(df, mode: str) -> list:
    tsc = S.TS_COL[mode]
    return sorted(
        ((r["ticker"], r[tsc]) for r in df.select("ticker", tsc).collect()),
        key=repr,
    )


def test_retain_keeps_null_times_of_a_straddling_dir(spark, tmp_path):
    """One dir holding a row before the cutoff, a NULL-time row and a
    row after it: only the expired row leaves, and it is the feed's one
    delete."""
    mode = "streaming"
    store = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    rows = [("SPY", 0, 0, 1.0), ("VOO", None, 0, 1.0), ("SPY", 3, 0, 1.0)]
    store.ingest_batch(_frame(spark, mode, rows), mode)
    store.retain_before(mode, _ts(mode, 2), cdc=True)
    assert _keys(store.read_all(mode), mode) == sorted(
        [("VOO", None), ("SPY", _ts(mode, 3))], key=repr
    )
    feed = store.read_changes(mode, 1)
    assert [(r["_change_type"], r["ticker"]) for r in feed.collect()] == [
        ("delete", "SPY")
    ]
    _check(spark, store, mode)
    _check_feed(store, mode)


def test_retain_of_expired_dir_keeps_its_null_times(spark, tmp_path):
    """A dir whose times all lie below the cutoff but which holds a
    NULL-time row is rewritten, not dropped whole: the NULL-time row
    stays, and the feed's deletes are exactly the rows that left."""
    mode = "historical_interday"
    store = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    expired = [("SPY", 0, 0, 1.0), ("SPY", 1, 0, 1.0), ("VOO", None, 0, 1.0)]
    store.ingest_batch(_frame(spark, mode, expired), mode)
    store.ingest_batch(_frame(spark, mode, [("SPY", 3, 0, 1.0)]), mode)
    before = _keys(store.read_all(mode), mode)
    res = store.retain_before(mode, _ts(mode, 2), cdc=True)
    assert res["deleted_dirs"] == 0 and res["rewritten_dirs"] == 1
    after = _keys(store.read_all(mode), mode)
    assert after == sorted([("VOO", None), ("SPY", _ts(mode, 3))], key=repr)
    feed = store.read_changes(mode, 2)
    assert {r["_change_type"] for r in feed.collect()} == {"delete"}
    assert _keys(feed, mode) == [k for k in before if k not in after]
    _check(spark, store, mode)
    _check_feed(store, mode)
