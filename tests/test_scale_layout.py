"""Scale-layout proofs: bucketed co-located joins eliminate the join
shuffle; store range reads prune partitions at the file-listing level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_ops_spark import catalog
from stock_ops_spark import schemas as S
from stock_ops_spark.plans import audit as A
from stock_ops_spark.sources import commitlog as CL
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.reader import ReadProcess

SF = "/root/testdata/sf0.001"


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both fact tables on the join key removes the
    per-query exchange entirely — the 100 TB recipe for repeated fact-fact
    joins (pay the shuffle once at write time)."""
    # warehouse dir is a static conf — the session fixture points it at a
    # throwaway path already
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        o = catalog.load(spark, SF, "orders")
        li = catalog.load(spark, SF, "lineitem")
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
            "orders_b"
        )
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
            "lineitem_b"
        )
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy("o_orderkey").agg(
            F.count(F.lit(1)).alias("n")
        )
        # bucketed layout: join needs NO exchange; only the (same-key)
        # aggregate exchange may remain — and since grouping key ==
        # bucketing key, even that should collapse
        n_shuffles = A.count_shuffles(joined)
        assert n_shuffles == 0, A.plan_string(joined)
        # and results match the unbucketed join
        plain = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted((r.o_orderkey, r.n) for r in joined.collect()) == sorted(
            (r.o_orderkey, r.n) for r in plain.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _three_day_store(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "s"))
    rows = []
    # three days of trades: 2025-08-18/19/20 in America/New_York
    for day, base_ms in ((18, 1755526571834), (19, 1755612971834), (20, 1755699371834)):
        rows += [
            ("SPY", base_ms + i, 600.0 + i, 1, None, None, None, None) for i in range(5)
        ]
    df = spark.createDataFrame(rows, schema=S.STREAMING)
    assert store.ingest_batch(df, "streaming") == 15
    return store


def test_store_read_prunes_partitions(spark, tmp_path, monkeypatch):
    """A day-bounded streaming read must touch only that day's partition
    directory (PartitionFilters at the scan, like the reference's filename
    enumeration — but done by Catalyst).  Pinned on the Spark path, the
    one a read over the driver bound takes."""
    store = _three_day_store(spark, tmp_path)
    monkeypatch.setattr(CL, "_read_dirs_arrow", lambda *a, **kw: None)

    rp = ReadProcess(store)
    out = rp.read_dt_range(
        "streaming", "SPY", "2025-08-19 00:00", "2025-08-19 23:59"
    )
    assert out.count() == 5
    plan = A.plan_string(out)
    # partition predicates reached the scan's PartitionFilters (the plan
    # string truncates long filter lists — check the leading fragment)
    assert "PartitionFilters: [isnotnull(year" in plan
    assert "(year" in plan.split("PartitionFilters")[1][:200]


def test_store_read_prunes_partitions_on_driver(spark, tmp_path, driver_reads):
    """The same day-bounded read on the driver path opens only that day's
    partition fragment: the time bounds' partition range prunes the
    others before any footer is read."""
    store = _three_day_store(spark, tmp_path)
    driver_reads["fragments"].clear()
    out = ReadProcess(store).read_dt_range(
        "streaming", "SPY", "2025-08-19 00:00", "2025-08-19 23:59"
    )
    assert out.count() == 5
    frags = driver_reads["fragments"]
    assert frags and all("/year=2025/month=8/day=19/" in f for f in frags)


def test_clustered_rowgroups_carry_ticker_stats(spark, tmp_path):
    """sortWithinPartitions(ticker, ts) leaves per-file ticker min/max
    stats that parquet uses to skip files on ticker predicates."""
    store = ManifestStore(spark, str(tmp_path / "s"))
    rows = [
        (t, 1751463000 + i, 1.0, 1.0, 1.0, 1.0, 1, "1h")
        for t in ("AAA", "MMM", "ZZZ")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY).repartition(3)
    store.ingest_batch(df, "historical_intraday")

    import glob

    import pyarrow.parquet as pq

    files = glob.glob(store.data_path("historical_intraday") + "/**/*.parquet", recursive=True)
    assert files
    for f in files:
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            cols = {g.column(i).path_in_schema: g.column(i) for i in range(g.num_columns)}
            st = cols["ticker"].statistics
            assert st is not None and st.has_min_max


def _six_month_store(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "s"))
    # 2024-10 .. 2025-03: first-of-month 09:30 America/New_York trades
    epochs = (1727789400, 1730471400, 1733063400, 1735828200, 1738506600, 1740925800)
    rows = [("SPY", e, 1.0, 2.0, 0.5, 1.5, 10, "1h") for e in epochs]
    df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
    assert store.ingest_batch(df, "historical_intraday") == 6
    return store


def test_cross_year_read_prunes_months(spark, tmp_path, monkeypatch):
    """A Dec→Jan intraday range must enumerate (year, month) pairs — the
    old between()-only predicate collapsed to year IN (Y, Y+1) and scanned
    every month partition of both years.  Assert via the executed scan's
    metrics that only the two boundary months were read (the Spark
    path, forced)."""
    store = _six_month_store(spark, tmp_path)
    monkeypatch.setattr(CL, "_read_dirs_arrow", lambda *a, **kw: None)

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # unwrapped scan node
    try:
        out = ReadProcess(store).read_dt_range(
            "historical_intraday", "SPY", "2024-12-01 00:00", "2025-01-31 23:59",
            interval="1h",
        )
        assert [r.timestamp_UTC_s for r in out.collect()] == [1733063400, 1735828200]
        scans = {}

        def walk(node):
            if "Scan" in node.nodeName():
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    scans[kv._1()] = kv._2().value()
            for i in range(node.children().length()):
                walk(node.children().apply(i))

        walk(out._jdf.queryExecution().executedPlan())
        assert scans["numPartitions"] == 2  # of 6 month dirs on disk
        assert scans["numFiles"] == 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_cross_year_read_prunes_months_on_driver(spark, tmp_path, driver_reads):
    """The Dec→Jan read on the driver path opens the two boundary months'
    fragments and no other of the six."""
    store = _six_month_store(spark, tmp_path)
    driver_reads["fragments"].clear()
    out = ReadProcess(store).read_dt_range(
        "historical_intraday", "SPY", "2024-12-01 00:00", "2025-01-31 23:59",
        interval="1h",
    )
    assert [r.timestamp_UTC_s for r in out.collect()] == [1733063400, 1735828200]
    months = sorted(
        f.split("/year=")[1].split("/")[0] + "-" + f.split("/month=")[1].split("/")[0]
        for f in driver_reads["fragments"]
    )
    assert months == ["2024-12", "2025-1"]


def test_inverted_range_raises_empty_not_crash(spark, tmp_path):
    """end < start must keep the clean EmptyReadError path — the
    month-enumeration predicate must not crash on an empty month set."""
    from stock_ops_spark.sources.reader import EmptyReadError

    store = ManifestStore(spark, str(tmp_path / "s"))
    df = spark.createDataFrame(
        [("SPY", 1736951400, 1.0, 2.0, 0.5, 1.5, 10, "1h")],
        schema=S.HISTORICAL_INTRADAY,
    )
    store.ingest_batch(df, "historical_intraday")
    import pytest as _pytest

    with _pytest.raises(EmptyReadError):
        ReadProcess(store).read_dt_range(
            "historical_intraday", "SPY", "2025-02-01 00:00", "2025-01-01 00:00",
            interval="1h",
        )


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering keeps each file narrow in BOTH key dimensions:
    a predicate on the SECOND column can skip most files via parquet
    min/max stats, where a single-column sort layout keeps every file a
    candidate."""
    import glob

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from stock_ops_spark.sources.layout import cluster_by_zorder, zorder_key

    n, dom = 1 << 14, 1 << 10
    base = spark.range(n).select(
        # decorrelated pseudo-uniform keys in [0, 1024)
        (F.col("id") * 2654435761 % dom).alias("x"),
        (F.col("id") * 40503 % dom).alias("y"),
    )

    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    cluster_by_zorder(base, "x", "y", n_files=16, bits=10).write.parquet(zdir)
    base.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xdir)

    def candidate_files(root, col, lo, hi):
        cands = 0
        for f in glob.glob(root + "/*.parquet"):
            md = pq.read_metadata(f)
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                cols = {g.column(i).path_in_schema: g.column(i) for i in range(g.num_columns)}
                st = cols[col].statistics
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmax >= lo and fmin <= hi:
                cands += 1
        return cands

    # y-range predicate: x-sorted layout cannot prune at all
    assert candidate_files(xdir, "y", 100, 199) == 16
    # z-order keeps y spans narrow -> most files skipped
    z_cands = candidate_files(zdir, "y", 100, 199)
    assert z_cands <= 8
    # and x pruning still works on the z layout
    assert candidate_files(zdir, "x", 100, 199) <= 8


def test_zorder_key_bit_interleave(spark):
    from pyspark.sql import functions as F

    from stock_ops_spark.sources.layout import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    z = df.select(zorder_key(F.col("a"), F.col("b"), bits=3).alias("z")).collect()[0]["z"]
    # a bits -> even positions (1,0,1 -> bits 0,2,4), b bits -> odd (1,1,0 -> bits 1,3)
    assert z == (1 << 0) | (0 << 2) | (1 << 4) | (1 << 1) | (1 << 3) | (0 << 5)


def test_runtime_bloom_filter_injection(spark):
    """At 100 TB a selective dim-side filter should seed a runtime BLOOM
    FILTER on the fact side's join key (Spark's InjectRuntimeFilter), so
    the big scan drops non-joining rows BEFORE the shuffle.  Local scans
    are below the default application-side threshold, so this pins the
    mechanism with the thresholds the large deployment would use."""
    from pyspark.sql import functions as F

    from stock_ops_spark import catalog

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            catalog.load(spark, SF, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = catalog.load(spark, SF, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy().count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan  # fact-side probe actually applied
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """A filter that lives on the DIMENSION side must still prune the
    partitioned FACT's file listing at runtime — Spark's dynamic
    partition pruning (the 100 TB star-join pattern: the fact never
    carries the filter column, yet only the matching partitions are
    scanned).  Pinned via the `dynamicpruning` subquery in the scan's
    PartitionFilters."""
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact")
    (
        spark.range(0, 10_000)
        .select(
            F.col("id"),
            (F.col("id") % 50).alias("day_bucket"),
            (F.col("id") * 3 % 997).alias("v"),
        )
        .write.partitionBy("day_bucket")
        .parquet(fact_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(0, 50).select(
        F.col("id").alias("day_bucket"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tier"),
    )
    j = fact.join(F.broadcast(dim), "day_bucket").where(F.col("tier") == "hot")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the 3 hot buckets' rows exactly
    assert j.count() == fact.where(F.col("day_bucket") < 3).count()


def test_schema_cache_mtime_invalidation(spark, tmp_path):
    # catalog.load caches only the INFERRED SCHEMA (metadata), keyed by
    # (path, mtime): a rewritten table must re-infer, never serve stale.
    import os
    import shutil
    import time as _time

    from stock_ops_spark import catalog as C

    sf = str(tmp_path)
    src = "/root/testdata/sf0.001"
    shutil.copy(os.path.join(src, "region.parquet"), os.path.join(sf, "region.parquet"))
    df1 = C.load(spark, sf, "region")
    assert set(df1.columns) == {"r_regionkey", "r_name"}
    # replace the file with a different-schema parquet under the same name
    spark.range(3).selectExpr("id AS r_regionkey", "id AS extra_col").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "tmp_new"))
    part = [
        f
        for f in os.listdir(os.path.join(sf, "tmp_new"))
        if f.endswith(".parquet")
    ][0]
    shutil.copy(
        os.path.join(sf, "tmp_new", part), os.path.join(sf, "region.parquet")
    )
    now = _time.time() + 2
    os.utime(os.path.join(sf, "region.parquet"), (now, now))
    df2 = C.load(spark, sf, "region")
    assert set(df2.columns) == {"r_regionkey", "extra_col"}


def test_schema_cache_same_second_rewrite(spark, tmp_path):
    # VERDICT r11 #7: a rewrite that lands in the SAME second (identical
    # mtime down to the ns, forced with utime) must still re-infer — the
    # hardened key includes st_size / a listing digest, not just mtime.
    import os
    import shutil

    from stock_ops_spark import catalog as C

    sf = str(tmp_path)
    src = "/root/testdata/sf0.001"
    dst = os.path.join(sf, "region.parquet")
    shutil.copy(os.path.join(src, "region.parquet"), dst)
    st0 = os.stat(dst)
    df1 = C.load(spark, sf, "region")
    assert set(df1.columns) == {"r_regionkey", "r_name"}
    spark.range(3).selectExpr(
        "id AS r_regionkey", "id AS same_second_col"
    ).write.mode("overwrite").parquet(os.path.join(sf, "tmp_new"))
    part = [
        f
        for f in os.listdir(os.path.join(sf, "tmp_new"))
        if f.endswith(".parquet")
    ][0]
    shutil.copy(os.path.join(sf, "tmp_new", part), dst)
    # pin mtime/atime to the ORIGINAL file's exact nanoseconds: the old
    # (path, getmtime) key would collide and serve the stale schema
    os.utime(dst, ns=(st0.st_atime_ns, st0.st_mtime_ns))
    assert os.stat(dst).st_mtime_ns == st0.st_mtime_ns
    df2 = C.load(spark, sf, "region")
    assert set(df2.columns) == {"r_regionkey", "same_second_col"}
