"""The driver-side micro commit against the Spark path it stands in for.

``versioned_delta_arrow`` must give exactly the rows, versions, routed
partitions, column order and types of ``compute_versioned_delta`` +
``materialize_micro`` — including where Spark's semantics are not the
obvious ones: NULL index keys never match a stored row (an equi-join),
NaN counts as NULL for the all-NULL-payload drop, -0.0 and 0.0 are one
value (and 0.0 is what is written), NaN sorts above every number in the
version tiebreak, and partitions follow ``from_utc_timestamp`` across
DST edges.  Compaction of a micro store must give the Spark rewrite's
rows, files and folded bounds; a batch over the bound must commit the
same rows through the Spark path.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from stock_ops_spark import schemas as S
from stock_ops_spark.sources import commitlog as CL
from stock_ops_spark.sources import microcommit as MC
from stock_ops_spark.sources.ingest import (
    compute_versioned_delta,
    versioned_delta_arrow,
)
from stock_ops_spark.sources.layout import PARTITION_COLS

TZ = "America/New_York"
NAN = float("nan")
FLOATS = [None, 1.0, 2.0, NAN, -0.0, 0.0]
# epoch seconds at America/New_York edges: local midnight before and
# after the spring-forward and fall-back days, the fall-back instant,
# and the new-year boundary
EDGES_S = [
    1710046799, 1710046800, 1710054000,
    1730606399, 1730606400, 1730613599, 1730613600,
    1704085199, 1704085200,
]
KEY_DOMAIN = {
    "ticker": [None, "A", "B"],
    "timestamp_UTC_ms": [None] + [s * 1000 for s in EDGES_S] + [1710046799999],
    "timestamp_UTC_s": [None] + EDGES_S,
    "date": [None, dt.date(2024, 3, 10), dt.date(2024, 11, 3)],
    "interval": [None, "1m", "d"],
}
_ARROW = {
    T.StringType: pa.string(), T.LongType: pa.int64(),
    T.DoubleType: pa.float64(), T.DateType: pa.date32(),
}


def _domain(mode: str, col: str) -> list:
    if col in KEY_DOMAIN:
        return KEY_DOMAIN[col]
    t = S.SCHEMAS[mode][col].dataType
    return FLOATS if isinstance(t, T.DoubleType) else [None, 5, 7]


def _schema(mode: str, extra=(), version: bool = False) -> pa.Schema:
    fields = [(f.name, _ARROW[type(f.dataType)]) for f in S.SCHEMAS[mode].fields]
    fields += list(extra)
    if version:
        fields.append(("version", pa.int32()))
    return pa.schema(fields)


@st.composite
def cases(draw):
    mode = draw(st.sampled_from(list(S.SCHEMAS)))
    cols = S.SCHEMAS[mode].fieldNames()
    row = st.fixed_dictionaries(
        {c: st.sampled_from(_domain(mode, c)) for c in cols}
    )
    batch = draw(st.lists(row, max_size=10))
    extra = draw(st.sampled_from(["none", "batch", "store", "both"]))
    for r in batch:
        if extra in ("batch", "both"):
            r["x"] = draw(st.sampled_from(FLOATS))
    # exact re-sends of batch rows, then rows that may conflict
    resent = draw(st.lists(st.integers(0, 9), max_size=4))
    prior = [dict(batch[i]) for i in resent if i < len(batch)]
    prior += draw(st.lists(row, max_size=6))
    for r in prior:
        r["version"] = draw(st.integers(1, 3))
        if extra in ("store", "both"):
            r["y"] = draw(st.sampled_from([None, "s"]))
    return {"mode": mode, "batch": batch, "prior": prior or None,
            "extra": extra}


def _case(mode, batch, prior=None, extra="none"):
    full = S.SCHEMAS[mode].fieldNames()
    base = {c: None for c in full}
    return {"mode": mode, "batch": [dict(base, **r) for r in batch],
            "prior": None if prior is None else [dict(base, **r) for r in prior],
            "extra": extra}


def _tables(case):
    mode, extra = case["mode"], case["extra"]
    bx = [("x", pa.float64())] if extra in ("batch", "both") else []
    batch = pa.Table.from_pylist(case["batch"], schema=_schema(mode, bx))
    if case["prior"] is None:
        return batch, None
    px = [("x", pa.float64())] if extra == "both" else []
    px += [("y", pa.string())] if extra in ("store", "both") else []
    prior = pa.Table.from_pylist(
        [{c: r.get(c) for c in _schema(mode, px, True).names} for r in case["prior"]],
        schema=_schema(mode, px, True),
    )
    for c in PARTITION_COLS[mode]:  # what the dir reader adds
        prior = prior.append_column(c, pa.array([1] * prior.num_rows, pa.int32()))
    return batch, prior


def _rows(tbl, drop=()):
    def v(x):
        return repr(x) if isinstance(x, float) else x

    return sorted(
        (tuple(v(r[c]) for c in tbl.column_names if c not in drop)
         for r in tbl.to_pylist()),
        key=repr,
    )


def _stats(tbl, keys, mode):
    parts = PARTITION_COLS[mode]
    out = {}
    for r in MC.grouped_stats(tbl, keys, S.TS_COL[mode], parts, 256).to_pylist():
        tp = frozenset(tuple(t[p] for p in parts) for t in (r.get("tp") or []))
        out[tuple(r[k] for k in keys)] = (r["rc"], r["nts"], r["lo"], r["hi"], tp)
    return out


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(case=cases())
# -0.0 is deduped with 0.0 and written as 0.0
@example(case=_case("streaming", [
    {"ticker": "A", "timestamp_UTC_ms": 1, "price": -0.0},
    {"ticker": "A", "timestamp_UTC_ms": 1, "price": 0.0, "volume": 5},
    {"ticker": "A", "timestamp_UTC_ms": 1, "price": -0.0, "volume": 5},
]))
# ... and matches a stored 0.0
@example(case=_case(
    "historical_intraday",
    [{"ticker": "A", "timestamp_UTC_s": 1710046800, "interval": "1m", "open": -0.0}],
    [{"ticker": "A", "timestamp_UTC_s": 1710046800, "interval": "1m", "open": 0.0,
      "version": 2}],
))
# NaN takes the last version, after NULL and the numbers
@example(case=_case("historical_interday", [
    {"ticker": "A", "date": dt.date(2024, 3, 10), "interval": "d", "open": o,
     "volume": 5}
    for o in (NAN, 2.0, None)
]))
# a NULL key never matches its stored copy: appended again
@example(case=_case(
    "streaming",
    [{"ticker": None, "timestamp_UTC_ms": 7, "price": 1.0}],
    [{"ticker": None, "timestamp_UTC_ms": 7, "price": 1.0, "version": 1}],
))
# a NaN-only payload is dropped as all-NULL
@example(case=_case("streaming", [
    {"ticker": "A", "timestamp_UTC_ms": 1, "price": NAN, "ask_price": NAN},
    {"ticker": "B", "timestamp_UTC_ms": 1, "price": 1.0},
]))
@example(case=_case("streaming", []))
def test_arrow_delta_matches_spark(spark, case):
    mode = case["mode"]
    batch, prior = _tables(case)
    df = spark.createDataFrame(batch)
    existing = None if prior is None else spark.createDataFrame(prior)
    want = MC.materialize_micro(compute_versioned_delta(
        df, existing, mode, TZ, touched=[] if existing is not None else None,
    ))
    tbl = MC.collect_micro(df)
    got = versioned_delta_arrow(tbl, prior, mode, TZ)
    assert got is not None
    if not want.n:
        assert got.num_rows == 0
        return
    assert got.column_names == want.tbl.column_names
    assert got.schema.types == want.tbl.schema.types
    assert _rows(got) == _rows(want.tbl)
    gb = ["ticker"] if mode == "streaming" else ["ticker", "interval"]
    assert _stats(got, gb, mode) == _stats(want.tbl, gb, mode)


def test_arrow_delta_declines_what_it_cannot_reproduce(spark):
    mode = "streaming"
    batch = pa.Table.from_pylist(
        [{"ticker": "A", "timestamp_UTC_ms": 1, "price": 1.0}], schema=_schema(mode)
    )
    assert versioned_delta_arrow(batch.drop_columns(["price"]), None, mode, TZ) is None
    year = batch.append_column("year", pa.array([2024], pa.int32()))
    assert versioned_delta_arrow(year, None, mode, TZ) is None
    dec = batch.append_column(
        "fee", pa.array([decimal.Decimal("0.25")], pa.decimal128(6, 2))
    )
    assert versioned_delta_arrow(dec, None, mode, TZ) is None
    # a payload type the store holds differently
    prior = batch.set_column(2, "price", pa.array([1], pa.int64())).append_column(
        "version", pa.array([1], pa.int32())
    )
    assert versioned_delta_arrow(batch, prior, mode, TZ) is None
    far = batch.set_column(1, "timestamp_UTC_ms", pa.array([2**62], pa.int64()))
    assert versioned_delta_arrow(far, None, mode, TZ) is None


def _burst(spark, day: int, n: int = 6, extra: bool = False):
    rows = [
        {"ticker": "AB"[i % 2], "timestamp_UTC_ms": 1710046800000 + day * 86_400_000 + i,
         "price": float(i), "volume": i}
        for i in range(n)
    ]
    fields = [(f.name, _ARROW[type(f.dataType)]) for f in S.STREAMING.fields]
    if extra:
        fields.append(("x", pa.float64()))
        for r in rows:
            r["x"] = 0.5
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=pa.schema(fields)))


def _snapshot(store, mode="streaming"):
    st_ = store.log(mode).state()
    rows = store.read_all(mode).drop("year", "month", "day").toArrow()
    return st_, _rows(rows.select(sorted(rows.column_names)))


def test_compaction_on_driver_matches_spark_rewrite(spark, tmp_path, monkeypatch):
    calls = []
    real_write = MC.write_micro

    def spy(*a, **kw):
        calls.append(real_write(*a, **kw))
        return calls[-1]

    monkeypatch.setattr(MC, "write_micro", spy)

    def build(root):
        store = CL.ManifestStore(spark, str(root), auto_compact_every=0)
        # an evolved column in one dir, and a later commit into day 0
        for day, n, extra in ((0, 6, False), (1, 6, True), (0, 9, False), (2, 6, False)):
            assert store.ingest_batch(_burst(spark, day, n, extra), "streaming")
        return store

    driver = build(tmp_path / "driver")
    spark_side = build(tmp_path / "spark")
    calls.clear()
    assert driver.compact("streaming")["rewritten"] == 4
    assert calls == [True]  # the rewrite ran on the driver
    monkeypatch.setattr(CL, "_read_dirs_arrow", lambda *a, **kw: None)
    calls.clear()
    assert spark_side.compact("streaming")["rewritten"] == 4
    assert calls == []
    (sa, ra), (sb, rb) = _snapshot(driver), _snapshot(spark_side)
    assert ra == rb
    [da], [db] = sa["dirs"], sb["dirs"]
    assert sa["meta"][da] == sb["meta"][db]

    def files(store, d):
        root = os.path.join(store.data_path("streaming"), d)
        return sorted(
            os.path.relpath(os.path.dirname(f), root)
            for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        )

    assert files(driver, da) == files(spark_side, db)
    assert len(files(driver, da)) == len(set(files(driver, da))) == 3


def test_over_bound_batch_takes_spark_path_and_commits_same_rows(
    spark, tmp_path, monkeypatch
):
    spark_calls = []
    real_mat = CL.materialize_micro

    def counting(df, *a, **kw):
        spark_calls.append(1)
        return real_mat(df, *a, **kw)

    monkeypatch.setattr(CL, "materialize_micro", counting)

    def run(root):
        store = CL.ManifestStore(spark, str(root), auto_compact_every=0)
        ns = [store.ingest_batch(_burst(spark, d, n=8), "streaming") for d in (0, 1)]
        ns.append(store.ingest_batch(_burst(spark, 0, n=10), "streaming"))
        ns.append(store.ingest_batch(_burst(spark, 1, n=8), "streaming"))
        st_, rows = _snapshot(store)
        stats = sorted(map(tuple, store.table_stats("streaming").collect()))
        return ns, rows, stats, sorted(st_["meta"].values(), key=str)

    micro = run(tmp_path / "micro")
    assert spark_calls == []
    monkeypatch.setattr(
        CL, "collect_micro", lambda df: MC.collect_micro(df, bound=5)
    )
    over = run(tmp_path / "over")
    assert len(spark_calls) >= 4
    assert micro == over
    assert micro[0] == [8, 8, 2, 0]


def test_empty_batch_commits_nothing(spark, tmp_path):
    store = CL.ManifestStore(spark, str(tmp_path))
    assert store.ingest_batch(_burst(spark, 0, n=0), "streaming") == 0
    assert store.version("streaming") == 0
