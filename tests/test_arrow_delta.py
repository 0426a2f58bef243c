"""The one delta kernel, on the driver and per key bucket in Spark.

``versioned_delta_arrow`` must keep Spark's semantics where they are not
the obvious ones — NULL index keys never match a stored row (an
equi-join), NaN counts as NULL for the all-NULL-payload drop, -0.0 and
0.0 are one value (and 0.0 is what is written), NaN sorts above every
number in the version tiebreak, and partitions follow
``from_utc_timestamp`` across DST edges — pinned here as explicit rows.
``versioned_delta_spark`` must give the driver's rows, column order and
types.  A batch the driver declines (a decimal, timestamp or nested
column, a type that differs from the store's) commits through the Spark
path the rows and versions the Spark SQL delta committed; compaction of
a micro store must give the Spark rewrite's rows, files and folded
bounds; a batch over the bound must commit the same rows through the
Spark path.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from stock_ops_spark import schemas as S
from stock_ops_spark.sources import commitlog as CL
from stock_ops_spark.sources import microcommit as MC
from stock_ops_spark.sources.ingest import (
    versioned_delta_arrow,
    versioned_delta_spark,
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


_NY = [
    # (epoch s, local year, month, day): the edges of EDGES_S in order
    (1710046799, 2024, 3, 9), (1710046800, 2024, 3, 10),
    (1710054000, 2024, 3, 10), (1730606399, 2024, 11, 2),
    (1730606400, 2024, 11, 3), (1730613599, 2024, 11, 3),
    (1730613600, 2024, 11, 3), (1704085199, 2023, 12, 31),
    (1704085200, 2024, 1, 1),
]
_EPOCH = (1969, 12, 31)  # epoch 1 ms, in New York
# (case, the kernel's rows: the mode's columns, partitions, version)
KERNEL_CASES = {
    # -0.0 is deduped with 0.0 and written as 0.0
    "neg_zero_dedups_with_zero": (
        _case("streaming", [
            {"ticker": "A", "timestamp_UTC_ms": 1, "price": -0.0},
            {"ticker": "A", "timestamp_UTC_ms": 1, "price": 0.0, "volume": 5},
            {"ticker": "A", "timestamp_UTC_ms": 1, "price": -0.0, "volume": 5},
        ]),
        [("A", 1, 0.0, None, None, None, None, None, *_EPOCH, 1),
         ("A", 1, 0.0, 5, None, None, None, None, *_EPOCH, 2)],
    ),
    # ... and matches a stored 0.0
    "neg_zero_matches_stored_zero": (
        _case(
            "historical_intraday",
            [{"ticker": "A", "timestamp_UTC_s": 1710046800, "interval": "1m",
              "open": -0.0}],
            [{"ticker": "A", "timestamp_UTC_s": 1710046800, "interval": "1m",
              "open": 0.0, "version": 2}],
        ),
        [],
    ),
    # NaN takes the last version, after NULL and the numbers
    "nan_versions_last": (
        _case("historical_interday", [
            {"ticker": "A", "date": dt.date(2024, 3, 10), "interval": "d",
             "open": o, "volume": 5}
            for o in (NAN, 2.0, None)
        ]),
        [("A", dt.date(2024, 3, 10), o, None, None, None, None, 5, "d", v)
         for o, v in ((NAN, 3), (2.0, 2), (None, 1))],
    ),
    # a NULL key never matches its stored copy: appended again
    "null_key_never_matches": (
        _case(
            "streaming",
            [{"ticker": None, "timestamp_UTC_ms": 7, "price": 1.0}],
            [{"ticker": None, "timestamp_UTC_ms": 7, "price": 1.0, "version": 1}],
        ),
        [(None, 7, 1.0, None, None, None, None, None, *_EPOCH, 1)],
    ),
    # a NaN-only payload is dropped as all-NULL
    "nan_only_payload_dropped": (
        _case("streaming", [
            {"ticker": "A", "timestamp_UTC_ms": 1, "price": NAN, "ask_price": NAN},
            {"ticker": "B", "timestamp_UTC_ms": 1, "price": 1.0},
        ]),
        [("B", 1, 1.0, None, None, None, None, None, *_EPOCH, 1)],
    ),
    # partitions across the DST and new-year edges, from UTC instants
    "dst_edges_streaming": (
        _case("streaming", [
            {"ticker": "A", "timestamp_UTC_ms": ms, "price": 1.0}
            for ms in [s * 1000 for s, *_ in _NY] + [1710046799999]
        ]),
        [("A", s * 1000, 1.0, None, None, None, None, None, y, m, d, 1)
         for s, y, m, d in _NY]
        + [("A", 1710046799999, 1.0, None, None, None, None, None, 2024, 3, 9, 1)],
    ),
    "dst_edges_intraday": (
        _case("historical_intraday", [
            {"ticker": "A", "timestamp_UTC_s": s, "interval": "1m", "open": 1.0}
            for s, *_ in _NY
        ]),
        [("A", s, 1.0, None, None, None, None, "1m", y, m, 1)
         for s, y, m, _ in _NY],
    ),
    "empty": (_case("streaming", []), []),
}


@pytest.mark.parametrize("name", sorted(KERNEL_CASES))
def test_kernel_rows(name):
    case, want = KERNEL_CASES[name]
    mode = case["mode"]
    got = versioned_delta_arrow(*_tables(case), mode, TZ)
    cols = S.SCHEMAS[mode].fieldNames() + PARTITION_COLS[mode] + ["version"]
    if case["prior"] is not None:  # the index keys lead
        keys = S.INDEX_COLS[mode]
        cols = keys + [c for c in cols if c not in keys]
    assert got.column_names == cols

    def v(x):
        return repr(x) if isinstance(x, float) else x

    assert [tuple(map(v, r.values())) for r in got.to_pylist()] == [
        tuple(map(v, r)) for r in want
    ]


def _on_spark(spark, batch, prior, mode):
    """``versioned_delta_spark`` of the Arrow inputs, back as Arrow."""
    existing = None if prior is None else spark.createDataFrame(prior)
    return versioned_delta_spark(
        spark.createDataFrame(batch), existing, mode, TZ
    ).toArrow()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(case=cases())
def test_arrow_delta_matches_spark(spark, case):
    """The driver kernel against the same kernel run per key bucket in
    Spark: rows, versions, column order and types."""
    mode = case["mode"]
    batch, prior = _tables(case)
    want = versioned_delta_arrow(batch, prior, mode, TZ)
    got = _on_spark(spark, batch, prior, mode)
    assert got.column_names == want.column_names
    assert got.schema.types == want.schema.types
    assert _rows(got) == _rows(want)
    gb = ["ticker"] if mode == "streaming" else ["ticker", "interval"]
    assert _stats(got, gb, mode) == _stats(want, gb, mode)


def test_arrow_delta_declines_what_it_cannot_reproduce():
    """The kernel declines a missing declared column, a type that
    differs from the store's and an epoch Spark cannot hold; partition
    columns the batch carries are replaced, not payload."""
    mode = "streaming"
    batch = pa.Table.from_pylist(
        [{"ticker": "A", "timestamp_UTC_ms": 1, "price": 1.0}], schema=_schema(mode)
    )
    assert versioned_delta_arrow(batch.drop_columns(["price"]), None, mode, TZ) is None
    # a payload type the store holds differently
    prior = batch.set_column(2, "price", pa.array([1], pa.int64())).append_column(
        "version", pa.array([1], pa.int32())
    )
    assert versioned_delta_arrow(batch, prior, mode, TZ) is None
    far = batch.set_column(1, "timestamp_UTC_ms", pa.array([2**62], pa.int64()))
    assert versioned_delta_arrow(far, None, mode, TZ) is None
    year = batch.append_column("year", pa.array([2024], pa.int32()))
    out = versioned_delta_arrow(year, None, mode, TZ)
    assert out.column_names[-4:] == ["year", "month", "day", "version"]
    assert out.select(["year", "month", "day", "version"]).to_pylist() == [
        {"year": 1969, "month": 12, "day": 31, "version": 1}
    ]


def test_kernel_orders_types_arrow_cannot_sort_as_spark_does():
    """Decimal and nested columns are deduped and version-ordered through
    their ranks: numerically (10.00 after 9.00), a struct field by field,
    an array element by element with NaN last, NULL first."""
    base = {c: None for c in S.STREAMING.fieldNames()}
    rows = [
        dict(base, ticker="A", timestamp_UTC_ms=1, fee=fee, s=s, arr=arr)
        for fee, s, arr in [
            (decimal.Decimal("10.00"), {"i": 1, "t": "b"}, [1.0, NAN]),
            (decimal.Decimal("9.00"), {"i": 1, "t": "b"}, [1.0, NAN]),
            (None, {"i": 1, "t": "a"}, [1.0, 2.0]),
            (None, {"i": 1, "t": "a"}, [1.0, 2.0]),
            (None, None, [1.0]),
            (None, None, None),
        ]
    ]
    extra = [
        ("fee", pa.decimal128(6, 2)),
        ("s", pa.struct([("i", pa.int32()), ("t", pa.string())])),
        ("arr", pa.list_(pa.float64())),
    ]
    batch = pa.Table.from_pylist(rows, schema=_schema("streaming", extra))
    out = versioned_delta_arrow(batch, None, "streaming", TZ)
    # the payload struct orders by sorted names: arr, then fee, then s;
    # the all-NULL row is dropped
    got = sorted(
        (r["version"], r["arr"], str(r["fee"]), r["s"] and r["s"]["t"])
        for r in out.to_pylist()
    )
    assert [(v, repr(a), f, t) for v, a, f, t in got] == [
        (1, "[1.0]", "None", None),
        (2, "[1.0, 2.0]", "None", "a"),
        (3, "[1.0, nan]", "9.00", "b"),
        (4, "[1.0, nan]", "10.00", "b"),
    ]
    # a re-send of the same rows against them appends nothing
    again = versioned_delta_arrow(batch, out, "streaming", TZ)
    assert again.num_rows == 0


D = decimal.Decimal
UTC = dt.timezone.utc
T0 = 1710046800000  # 2024-03-10 05:00 UTC: day 10 in New York
_DEC = [("fee", T.DecimalType(6, 2))]
_TS = [("seen", T.TimestampType())]
# name -> (per batch: its extra columns and rows (ticker, *extra values)),
# what each ingest returns, the stored (ticker, *extra values, version)
DECLINED = {
    "decimal": (
        [(_DEC, [("A", D("9.00")), ("A", D("10.00")), ("A", None),
                 ("B", D("0.25")), ("B", D("0.25"))]),
         (_DEC, [("A", D("10.00")), ("A", D("-1.00"))])],
        [4, 1],
        [("A", None, 1), ("A", D("9.00"), 2), ("A", D("10.00"), 3),
         ("A", D("-1.00"), 4), ("B", D("0.25"), 1)],
    ),
    "timestamp": (
        [(_TS, [("A", dt.datetime(2024, 3, 10, 9, tzinfo=UTC)),
                ("A", dt.datetime(2023, 1, 1, tzinfo=UTC)), ("A", None)]),
         (_TS, [("A", dt.datetime(2023, 1, 1, tzinfo=UTC)),
                ("A", dt.datetime(2025, 1, 1, tzinfo=UTC))])],
        [3, 1],
        [("A", None, 1), ("A", dt.datetime(2023, 1, 1), 2),
         ("A", dt.datetime(2024, 3, 10, 9), 3),
         ("A", dt.datetime(2025, 1, 1), 4)],
    ),
    # the store holds x as bigint and z as double, the batch sends x as
    # double and z as int: both compare as double, so (1.0, 1) is the
    # stored (1, 1.0)
    "store_type_differs": (
        [([("x", T.LongType()), ("z", T.DoubleType())],
          [("A", 1, 1.0), ("B", 2, 2.5)]),
         ([("x", T.DoubleType()), ("z", T.IntegerType())],
          [("A", 1.0, 1), ("B", 2.5, 2), ("A", 0.5, 1)])],
        [2, 2],
        [("A", 1.0, 1.0, 1), ("A", 0.5, 1.0, 2), ("B", 2.0, 2.5, 1),
         ("B", 2.5, 2.0, 2)],
    ),
}


@pytest.mark.parametrize("name", sorted(DECLINED))
def test_declined_domains_commit_through_spark_buckets(
    spark, tmp_path, monkeypatch, name
):
    """With the bound at 0 every commit runs the kernel per key bucket in
    Spark; each gives the rows and versions the Spark SQL delta gave."""
    monkeypatch.setattr(CL, "collect_micro", lambda df: MC.collect_micro(df, bound=0))
    batches, returns, want = DECLINED[name]
    store = CL.ManifestStore(spark, str(tmp_path), auto_compact_every=0)
    got = []
    for extra, rows in batches:
        schema = T.StructType(
            S.STREAMING.fields + [T.StructField(c, t) for c, t in extra]
        )
        df = spark.createDataFrame(
            [(k, T0, 1.0, 1, None, None, None, None, *v) for k, *v in rows], schema
        )
        got.append(store.ingest_batch(df, "streaming"))
    assert got == returns
    cols = [c for c, _ in batches[0][0]]
    rows = store.read_all("streaming").collect()
    by_key = lambda t: (t[0], t[-1])  # noqa: E731
    assert sorted(
        ((r.ticker, *(r[c] for c in cols), r.version) for r in rows), key=by_key
    ) == sorted(want, key=by_key)
    assert {(r.year, r.month, r.day) for r in rows} == {(2024, 3, 10)}


def test_unholdable_epoch_raises_on_both_paths(spark, tmp_path, monkeypatch):
    store = CL.ManifestStore(spark, str(tmp_path), auto_compact_every=0)
    df = spark.createDataFrame(
        [("A", 2**62, 1.0, 1, None, None, None, None)], S.STREAMING
    )
    with pytest.raises(Exception, match="timestamp range"):
        store.ingest_batch(df, "streaming")
    monkeypatch.setattr(CL, "collect_micro", lambda df: MC.collect_micro(df, bound=0))
    with pytest.raises(Exception, match="timestamp range"):
        store.ingest_batch(df, "streaming")
    assert store.version("streaming") == 0


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
