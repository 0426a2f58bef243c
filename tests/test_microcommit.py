"""Pins for materialized commit deltas (sources/microcommit.py): the
grouped-stats kernel and the null-safe fold must be value-identical to
the Spark aggregates they stand in for — over NULL, empty and single-row
domains too — the written layout must be Spark-reader-compatible, and
uncovered domains must decline (fall back) rather than mis-encode.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stock_ops_spark.operators.stats import StatsTable, merge_stats
from stock_ops_spark.sources import commitlog as CL
from stock_ops_spark.sources import microcommit as MC
from stock_ops_spark.sources.ingest import ParquetStore
from stock_ops_spark.sources.layout import PARTITION_COLS, with_partition_cols


def _batch(spark, extra_rows=()):
    rows = [
        ("AAPL", 1700000000000, 100.0, 10, None, None, None, None),
        ("AAPL", 1700086400000, 101.0, 11, None, None, None, None),
        ("MSFT", 1700000000000, 200.0, None, None, None, None, None),
        ("MSFT", 1702592000000, 201.0, 20, None, None, None, None),
        *extra_rows,
    ]
    return spark.createDataFrame(
        rows,
        "ticker string, timestamp_UTC_ms bigint, price double, "
        "volume bigint, ask_price double, bid_price double, "
        "ask_size bigint, bid_size bigint",
    )


def _by_key(stats, keys, parts=()):
    """Grouped-stats table -> {key tuple: (rc, nts, lo, hi, {tp})}."""
    out = {}
    for r in stats.to_pylist():
        tp = frozenset(
            tuple(t[p] for p in parts) for t in (r.get("tp") or [])
        )
        out[tuple(r[k] for k in keys)] = (r["rc"], r["nts"], r["lo"], r["hi"], tp)
    return out


def test_stat_rows_kernel_matches_spark_aggregate(spark):
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    # NULL-ts row exercises the nts/min/max NULL handling
    routed = routed.withColumn(
        "timestamp_UTC_ms",
        F.when(F.col("price") == 200.0, F.lit(None)).otherwise(
            F.col("timestamp_UTC_ms")
        ),
    )
    gb = ["ticker"]
    parts = PARTITION_COLS["streaming"]
    tbl = MC.collect_micro(routed)
    assert tbl is not None
    got = MC.grouped_stats(tbl, gb, "timestamp_UTC_ms", parts, 256)
    want = MC._stat_rows(routed, gb, "timestamp_UTC_ms", parts, 256)
    assert got.column_names == want.column_names
    assert _by_key(got, gb, parts) == _by_key(want, gb, parts)


def test_write_micro_layout_readable_and_clustered(spark, tmp_path):
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    tbl = MC.collect_micro(routed)
    dest = str(tmp_path / "micro")
    assert MC.write_micro(
        tbl, ["year", "month", "day"], ["ticker", "timestamp_UTC_ms"], dest
    )
    files = glob.glob(os.path.join(dest, "**", "*.parquet"), recursive=True)
    # one file per distinct (y, m, d); Spark-style dir names, no padding
    n_parts = routed.select("year", "month", "day").distinct().count()
    assert len(files) == n_parts
    assert all("/year=" in f and "/month=" in f and "/day=" in f for f in files)
    back = spark.read.parquet(dest)
    assert set(back.columns) == set(routed.columns)
    assert dict(back.dtypes) == dict(routed.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, routed.collect())
    )


def test_collect_micro_declines_over_bound(spark):
    df = spark.range(0, 50, 1, 2).select(F.col("id"))
    assert MC.collect_micro(df, bound=49) is None
    t = MC.collect_micro(df, bound=50)
    assert t is not None and t.num_rows == 50


def test_write_micro_declines_uncovered_domains(spark, tmp_path):
    # NULL partition value
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    nulled = routed.withColumn(
        "day", F.when(F.col("ticker") == "AAPL", None).otherwise(F.col("day"))
    )
    t = MC.collect_micro(nulled)
    assert not MC.write_micro(
        t, ["year", "month", "day"], ["ticker"], str(tmp_path / "a")
    )
    assert not os.path.exists(str(tmp_path / "a"))
    # decimal column: outside the identical-encoding allowlist
    dec = routed.withColumn("d", F.lit("1.5").cast("decimal(10,2)"))
    t2 = MC.collect_micro(dec)
    assert not MC.write_micro(
        t2, ["year", "month", "day"], ["ticker"], str(tmp_path / "b")
    )


def test_ingest_falls_back_and_stays_correct_on_decimal_payload(
    spark, tmp_path
):
    # extra decimal payload column: write_micro declines, the Spark write
    # path takes over, and the store contents are identical either way
    batch = _batch(spark).withColumn(
        "fee", F.lit("0.25").cast("decimal(6,4)")
    )
    store = ParquetStore(spark, str(tmp_path / "store"))
    n = store.ingest_batch(batch, "streaming")
    assert n == 4
    back = store.read_all("streaming")
    assert back.count() == 4
    assert dict(back.dtypes)["fee"] == "decimal(6,4)"
    # replay dedups to zero through the same path
    assert store.ingest_batch(batch, "streaming") == 0


def test_meta_of_matches_spark_dir_meta(spark, tmp_path):
    routed = with_partition_cols(_batch(spark), "streaming", "America/New_York")
    tbl = MC.collect_micro(routed)
    ts = "timestamp_UTC_ms"
    got = CL._meta_of(MC.grouped_stats(tbl, ["ticker"], ts), ts)
    store = CL.ManifestStore(spark, str(tmp_path / "m"))
    assert got == store._dir_meta(routed, "streaming")


def test_materialize_micro_counts_and_parallelism(spark):
    from pyspark.sql import functions as F2

    df = spark.range(0, 100, 1, 4).select(
        F2.col("id"), (F2.col("id") % 3).alias("k")
    )
    ck, n, tbl = MC.materialize_micro(df, bound=200)
    assert n == 100 and tbl is not None and tbl.num_rows == 100
    # the returned frame keeps the checkpoint's partitioning — the
    # downstream re-dedup must not collapse onto one partition
    assert ck.rdd.getNumPartitions() == 4
    assert sorted(tbl.column("id").to_pylist()) == list(range(100))
    # over the bound: no Arrow table, but the count is still known
    ck2, n2, tbl2 = MC.materialize_micro(df, bound=99)
    assert n2 == 100 and tbl2 is None
    assert ck2.count() == 100


def test_micro_ingest_null_ts_matches_distributed(spark, tmp_path, monkeypatch):
    # one ticker with both a NULL-ts and a non-NULL-ts row: the NULL ts
    # routes to NULL partition values, so that ticker's partition tuples
    # mix NULL and non-NULL.  The micro commit must take it exactly as
    # the distributed commit (forced with bound 0) does.
    batch = _batch(
        spark, extra_rows=[("AAPL", None, 99.0, 5, None, None, None, None)]
    )

    def ingest(root):
        store = CL.ManifestStore(spark, str(root))
        assert store.ingest_batch(batch, "streaming") == 5
        rows = store.read_all("streaming").select(
            "ticker", "timestamp_UTC_ms", "price"
        )
        stats = store.table_stats("streaming")
        meta = store.log("streaming").state()["meta"]
        return (
            sorted(map(tuple, rows.collect()), key=str),
            sorted(map(tuple, stats.collect()), key=str),
            sorted(meta.values(), key=str),
        )

    micro = ingest(tmp_path / "micro")
    assert ("AAPL", None, 99.0) in micro[0]
    assert ("AAPL", 1700000000000, 100.0) in micro[0]
    monkeypatch.setattr(
        CL, "materialize_micro", lambda df: MC.materialize_micro(df, bound=0)
    )
    assert ingest(tmp_path / "dist") == micro


_TICKERS = st.sampled_from([None, "AAPL", "MSFT"])
_ROWS = st.lists(
    st.tuples(
        _TICKERS,
        st.sampled_from([None, "1m", "5m"]),
        st.one_of(st.none(), st.integers(1_700_000_000_000, 1_700_000_000_009)),
        st.sampled_from([None, 2023, 2024]),
        st.sampled_from([None, 1, 2]),
    ),
    max_size=12,
)
_SCHEMA = pa.schema([
    ("ticker", pa.string()),
    ("interval", pa.string()),
    ("timestamp_UTC_ms", pa.int64()),
    ("year", pa.int32()),
    ("month", pa.int32()),
])


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=_ROWS,
    keys=st.sampled_from([["ticker"], ["ticker", "interval"]]),
    parts=st.sampled_from([[], ["year"], ["year", "month"]]),
    by_interval=st.booleans(),
)
@example(rows=[], keys=["ticker"], parts=["year"], by_interval=True)
@example(
    rows=[("AAPL", "1m", None, None, None)],
    keys=["ticker", "interval"], parts=["year", "month"], by_interval=False,
)
def test_kernel_parity_with_spark_aggregates(spark, rows, keys, parts, by_interval):
    tbl = pa.Table.from_pylist(
        [dict(zip(_SCHEMA.names, r)) for r in rows], schema=_SCHEMA
    )
    df = spark.createDataFrame(tbl)
    ts = "timestamp_UTC_ms"
    assert _by_key(MC.grouped_stats(tbl, keys, ts, parts, 256), keys, parts) == (
        _by_key(MC._stat_rows(df, keys, ts, parts, 256), keys, parts)
    )
    skeys = ["ticker", "interval"] if by_interval else ["ticker"]

    def catalog(delta):
        got = delta.batch_stats("streaming", by_interval).to_pylist()
        return sorted(
            ((tuple(r[k] for k in skeys), r["row_count"], r["min_ts"],
              r["max_ts"]) for r in got),
            key=str,
        )

    assert catalog(MC.Delta(df, len(rows), tbl)) == catalog(
        MC.Delta(df, len(rows), None)
    )


def test_kernel_caps_partition_tuples_like_spark(spark):
    rows = [("AAPL", "1m", 1, y, m) for y in (2023, 2024) for m in (1, 2)]
    tbl = pa.Table.from_pylist(
        [dict(zip(_SCHEMA.names, r)) for r in rows], schema=_SCHEMA
    )
    args = (["ticker"], "timestamp_UTC_ms", ["year", "month"], 2)
    got = MC.grouped_stats(tbl, *args).column("tp").to_pylist()
    want = MC._stat_rows(spark.createDataFrame(tbl), *args).column("tp")
    assert [len(t) for t in got] == [len(t) for t in want.to_pylist()] == [3]


def test_interday_batch_stats_are_iso_strings(spark):
    import datetime as dt

    rows = [("AAPL", "1d", dt.date(2024, 1, 3)), ("AAPL", "1d", dt.date(2023, 12, 29)),
            ("MSFT", "1d", None)]
    df = spark.createDataFrame(rows, "ticker string, interval string, date date")
    tbl = df.toArrow()
    micro = MC.Delta(df, 3, tbl).batch_stats("historical_interday", True)
    dist = MC.Delta(df, 3, None).batch_stats("historical_interday", True)
    assert micro.schema.types == dist.schema.types
    assert sorted(micro.to_pylist(), key=str) == sorted(dist.to_pylist(), key=str)
    assert ("2023-12-29", "2024-01-03") in {
        (r["min_ts"], r["max_ts"]) for r in micro.to_pylist()
    }


def test_stats_table_arrow_merge_matches_spark_merge(spark, tmp_path):
    schema = "ticker string, row_count bigint, min_ts bigint, max_ts bigint"
    prior = [("AAPL", 2, 10, 20), ("MSFT", 1, None, None), (None, 1, 5, 5)]
    delta = [("AAPL", 1, 5, None), ("MSFT", 2, 7, 9), ("NVDA", 1, None, None)]
    arrow = StatsTable(spark, str(tmp_path / "a"), ["ticker"])
    arrow.update(spark.createDataFrame(prior, schema))
    arrow.update(pa.Table.from_pylist(
        [dict(zip(["ticker", "row_count", "min_ts", "max_ts"], r)) for r in delta]
    ))
    want = merge_stats(
        spark.createDataFrame(prior, schema),
        spark.createDataFrame(delta, schema),
        ["ticker"],
    )
    assert sorted(map(tuple, arrow.read().collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )
