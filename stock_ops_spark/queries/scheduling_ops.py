"""Scheduling / orchestration queries (SURVEY §2 'what's missing' #2):
RRULE fleet expansion and the scheduler control loop, driver-oracled.

The reference delegates both to a Prefect server (schedule construction
``datapipe_ui/ui_backend.py:89-197``, expand-and-fire lifecycle
``api_backend.py:48-163``); here they are engine primitives
(``stock_ops_spark/scheduling.py``) and these two entries pin them
end-to-end against independent DuckDB reconstructions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.queries._base import _local_df, _register, _t

_TZS = ["America/New_York", "UTC", "Asia/Tokyo", "Europe/London"]
_WD = ["MO", "TU", "WE", "TH", "FR", "SA", "SU"]


_FLEET_FIRES_CTE = """
    WITH cfg AS (
      SELECT n_nationkey AS k,
             CASE n_nationkey % 3 WHEN 0 THEN 'DAILY'
                  WHEN 1 THEN 'WEEKLY' ELSE 'MONTHLY' END AS freq,
             1 + n_nationkey % 3 AS ival,
             4 + n_nationkey % 20 AS hh,
             (n_nationkey * 7) % 60 AS mi,
             CASE n_nationkey % 4 WHEN 0 THEN 'America/New_York'
                  WHEN 1 THEN 'UTC' WHEN 2 THEN 'Asia/Tokyo'
                  ELSE 'Europe/London' END AS tz,
             DATE '1996-01-01' + CAST(n_nationkey AS INTEGER) AS d0
      FROM nation),
    cfg2 AS (
      SELECT *, CASE WHEN k % 5 = 0 THEN
               timezone(tz, (d0 + 200)::TIMESTAMP + INTERVAL 12 HOUR)
             END AS until_utc
      FROM cfg),
    days AS (
      SELECT cfg2.*, CAST(dd AS DATE) AS fd
      FROM cfg2, LATERAL unnest(generate_series(
             d0::TIMESTAMP, TIMESTAMP '1996-12-31 00:00:00',
             INTERVAL 1 DAY)) AS t(dd)),
    cand AS (
      SELECT * FROM days
      WHERE (freq = 'DAILY' AND (fd - d0) % ival = 0)
         OR (freq = 'WEEKLY'
             AND ((fd - (d0 - CAST(isodow(d0) - 1 AS INTEGER))) // 7) % ival = 0
             AND (isodow(fd) - 1) IN (k % 7, (k + 3) % 7))
         OR (freq = 'MONTHLY'
             AND (12 * (year(fd) - year(d0))
                  + (month(fd) - month(d0))) % ival = 0
             AND ((k % 2 = 0 AND day(fd) = day(d0))
                  OR (k % 2 = 1 AND fd = last_day(fd))))),
    fires0 AS (
      SELECT k, until_utc,
             timezone(tz, fd::TIMESTAMP + hh * INTERVAL 1 HOUR
                          + mi * INTERVAL 1 MINUTE) AS fu
      FROM cand),
    fires AS (
      SELECT k, fu FROM fires0
      WHERE fu >= TIMESTAMPTZ '1996-01-01 00:00:00+00'
        AND fu <  TIMESTAMPTZ '1996-12-31 00:00:00+00'
        AND (until_utc IS NULL OR fu <= until_utc))
"""


def _fleet_fires(spark: SparkSession, sf_dir: str):
    """The q333 fleet: one schedule per nation (key-derived freq /
    interval / BYDAY / tz / UNTIL), expanded over calendar 1996 with
    scheduling.fire_times_df.  Shared by q333 and q335; the DuckDB twin
    is ``_FLEET_FIRES_CTE``."""
    from stock_ops_spark.scheduling import fire_times_df

    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k")
    )
    wd = F.lit(_WD)
    d0 = F.date_add(F.lit("1996-01-01").cast("date"), F.col("k"))
    hh = (F.lit(4) + F.col("k") % 20).cast("int")
    mi = ((F.col("k") * 7) % 60).cast("int")
    tz = F.element_at(F.lit(_TZS), (F.col("k") % 4 + 1).cast("int"))
    dtstart_ts = F.expr(
        "make_timestamp(year(d0), month(d0), day(d0), hh, mi, 0)"
    )
    until = F.when(
        F.col("k") % 5 == 0,
        F.date_format(
            F.to_utc_timestamp(
                F.expr(
                    "make_timestamp(year(date_add(d0, 200)), "
                    "month(date_add(d0, 200)), day(date_add(d0, 200)), "
                    "12, 0, 0)"
                ),
                tz,
            ),
            "yyyy-MM-dd HH:mm:ss",
        ),
    )
    sch = (
        n.withColumn("d0", d0)
        .withColumn("hh", hh)
        .withColumn("mi", mi)
        .select(
            F.concat(
                F.lit("dep-"), F.lpad(F.col("k").cast("string"), 3, "0")
            ).alias("deployment_id"),
            F.col("k").alias("schedule_id"),
            F.element_at(
                F.lit(["DAILY", "WEEKLY", "MONTHLY"]),
                (F.col("k") % 3 + 1).cast("int"),
            ).alias("freq"),
            (F.col("k") % 3 + 1).cast("int").alias("interval"),
            F.when(
                F.col("k") % 3 == 1,
                F.array(
                    F.element_at(wd, (F.col("k") % 7 + 1).cast("int")),
                    F.element_at(wd, ((F.col("k") + 3) % 7 + 1).cast("int")),
                ),
            ).alias("byday"),
            F.lit(None).cast("array<int>").alias("bymonth"),
            F.when(
                (F.col("k") % 3 == 2) & (F.col("k") % 2 == 1),
                F.array(F.lit(-1)),
            ).alias("bymonthday"),
            F.col("hh").alias("byhour"),
            F.col("mi").alias("byminute"),
            F.lit(0).cast("int").alias("bysecond"),
            tz.alias("tz"),
            F.date_format(dtstart_ts, "yyyy-MM-dd HH:mm:ss").alias("dtstart"),
            until.alias("until_utc"),
        )
    )
    return fire_times_df(
        spark, sch, "1996-01-01 00:00:00", "1996-12-31 00:00:00"
    )


@_register(
    "q333_schedule_fleet_fires",
    _FLEET_FIRES_CTE + """    SELECT 'dep-' || lpad(CAST(k AS VARCHAR), 3, '0') AS deployment_id,
           CAST(count(*) AS BIGINT) AS n_fires,
           strftime((min(fu) AT TIME ZONE 'UTC'),
                    '%Y-%m-%d %H:%M:%S') AS first_fire,
           strftime((max(fu) AT TIME ZONE 'UTC'),
                    '%Y-%m-%d %H:%M:%S') AS last_fire,
           CAST(sum(CAST(epoch(fu) AS BIGINT)) AS BIGINT) AS fire_epoch_sum
    FROM fires GROUP BY k
    ORDER BY deployment_id
    """,
)
def q333_schedule_fleet_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RRULE fleet expansion (scheduling.fire_times_df —
    the Spark twin of the reference's per-schedule Prefect loop,
    ui_backend.py:89-197): one schedule per nation with key-derived
    frequency (DAILY / WEEKLY+BYDAY / MONTHLY±BYMONTHDAY), interval,
    per-row IANA timezone and optional UNTIL, expanded over calendar
    1996 as ONE declarative plan (sequence + explode + filters — no
    driver loop, no UDF).  The per-deployment epoch-sum checksums every
    fire INSTANT, so DST handoffs in four timezones (wall-time-stable
    local fires, shifting UTC offsets) are pinned against DuckDB's
    independent ICU reconstruction.  Scale shape: |fleet| × window-days
    flat candidate rows, fully parallel until the final aggregate —
    the 1M-deployment shape a Prefect server cannot expand."""
    fires = _fleet_fires(spark, sf_dir)
    return (
        fires.groupBy("deployment_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fires"),
            F.date_format(
                F.min("fire_utc"), "yyyy-MM-dd HH:mm:ss"
            ).alias("first_fire"),
            F.date_format(
                F.max("fire_utc"), "yyyy-MM-dd HH:mm:ss"
            ).alias("last_fire"),
            F.sum(F.unix_timestamp("fire_utc"))
            .cast("bigint")
            .alias("fire_epoch_sum"),
        )
        .orderBy("deployment_id")
    )


@_register(
    "q334_scheduler_run_coverage",
    """
    WITH dep AS (SELECT r_regionkey AS k, r_name AS ticker FROM region),
    fires AS (
      SELECT k, ticker, CAST(f AS DATE) AS fire
      FROM dep, LATERAL unnest(generate_series(
             (DATE '2025-01-06' + CAST(k AS INTEGER))::TIMESTAMP,
             TIMESTAMP '2025-01-08 00:00:00', INTERVAL 1 DAY)) t(f)),
    cov AS (
      SELECT DISTINCT k, fire + CAST(g - 3 AS INTEGER) AS day
      FROM fires, LATERAL unnest(generate_series(0, 2)) t(g)),
    agg_f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_runs FROM fires GROUP BY k),
    agg_c AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days FROM cov GROUP BY k)
    SELECT dep.ticker,
           COALESCE(agg_f.n_runs, 0) AS n_runs,
           COALESCE(agg_f.n_runs, 0) AS n_completed,
           COALESCE(agg_c.n_days, 0) AS rows_total,
           COALESCE(agg_c.n_days, 0) AS store_days
    FROM dep LEFT JOIN agg_f ON agg_f.k = dep.k
             LEFT JOIN agg_c ON agg_c.k = dep.k
    ORDER BY dep.ticker
    """,
)
def q334_scheduler_run_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduler control loop end-to-end, driver-oracled: five
    deployments (one per region) each carry a DAILY 08:00 UTC schedule
    with a ROLLING three-day fetch window (``{fire_date-3}..
    {fire_date-1}`` tokens — the engine extension the reference's
    static parameters cannot express, ui_backend.py:199-237), staggered
    DTSTARTs so two deployments have no due fires yet.  One
    ``SchedulerService.tick`` at 2025-01-09T00:00Z catches up every
    deployment from its DTSTART (the Prefect stand-in's recovery path),
    dispatches each run through ``sources/services.run_command`` into a
    dedup-versioned ManifestStore, and the output folds the RUN LOG
    against the STORE: per deployment, runs created / completed, rows
    appended across runs, and distinct ingested days.  The oracle
    reconstructs all four from first principles (fires = generate_series
    from the stagger; appended rows = |distinct union of the rolling
    windows| — overlapping re-fetches MUST dedup to zero), so a
    double-fire, a lost run, or a broken effectively-once ingest each
    break a different column.  COST NOTE: an e2e orchestration replay
    (6 sequential micro-ingests) — seconds of fixed cost, independent
    of sf."""
    import shutil
    import tempfile
    from datetime import datetime, timezone as _tz

    from stock_ops_spark.scheduling import (
        DeploymentOps,
        LocalDeploymentAPI,
        SchedulerService,
        build_schedule,
        spark_runner,
    )
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.sources.providers import Provider, register

    def _bars(ticker, exchange, interval, start, end):
        from datetime import date as _date, timedelta as _td

        d, d1 = _date.fromisoformat(start), _date.fromisoformat(end)
        out = []
        while d <= d1:
            seed = (sum(ord(c) for c in ticker) + d.toordinal()) % 97
            base = 100.0 + seed
            out.append(
                {
                    "date": d.isoformat(),
                    "open": base,
                    "high": base + 1.0,
                    "low": base - 1.0,
                    "close": base + 0.5,
                    "adjusted_close": base + 0.25,
                    "volume": 1000 + seed,
                }
            )
            d += _td(days=1)
        return out

    register(Provider(name="sched-bars", fetch_historical=_bars))

    regions = sorted(
        _t(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect(),
        key=lambda r: r.r_regionkey,
    )
    root = tempfile.mkdtemp(prefix="schedq_")
    try:
        api = LocalDeploymentAPI(root)
        ops = DeploymentOps(api, provider="sched-bars", mode="hist")
        dep_ticker: dict[str, str] = {}
        for r in regions:
            k = int(r.r_regionkey)
            cfg = {
                "deployment_name": f"reg-{k}",
                "deployment_id": None,
                "ticker": r.r_name,
                "exchange": "US",
                "interval": "d",
                "start": "{fire_date-3}",
                "end": "{fire_date-1}",
            }
            ops.create_deployment(cfg)
            cfg["schedules"] = [
                build_schedule(
                    timezone="UTC",
                    freq="DAILY",
                    dtstart_local=datetime(2025, 1, 6 + k, 8, 0),
                )
            ]
            ops.schedule_deployment(cfg)
            dep_ticker[cfg["deployment_id"]] = r.r_name

        store = ManifestStore(spark, root + "/store", provider="sched-bars")
        sched = SchedulerService(
            api, spark_runner(spark, store, provider="sched-bars")
        )
        sched.tick(datetime(2025, 1, 9, 0, 0, tzinfo=_tz.utc))

        per_dep: dict[str, list[int]] = {
            d: [0, 0, 0] for d in dep_ticker
        }  # n_runs, n_completed, rows_total
        for run in sched.run_log():
            acc = per_dep[run["dep_id"]]
            acc[0] += 1
            if run["state"]["type"] == "COMPLETED":
                acc[1] += 1
                acc[2] += int(run.get("rows", 0))

        stored = store.read_all("historical_interday")
        days = (
            {
                row["ticker"]: int(row["n"])
                for row in stored.groupBy("ticker")
                .agg(F.countDistinct("date").alias("n"))
                .collect()
            }
            if stored is not None
            else {}
        )
        rows = [
            (
                dep_ticker[d],
                acc[0],
                acc[1],
                acc[2],
                days.get(dep_ticker[d], 0),
            )
            for d, acc in per_dep.items()
        ]
        out = _local_df(
            spark,
            rows,
            "ticker string, n_runs bigint, n_completed bigint, "
            "rows_total bigint, store_days bigint",
        ).orderBy("ticker")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q335_fleet_thundering_herd",
    _FLEET_FIRES_CTE + """    , per_min AS (
      SELECT strftime((fu AT TIME ZONE 'UTC'), '%H:%M') AS minute_utc,
             CAST(count(*) AS BIGINT) AS n_fires,
             CAST(count(DISTINCT k) AS BIGINT) AS n_deployments
      FROM fires GROUP BY 1),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY n_fires DESC, minute_utc) AS rnk
      FROM per_min)
    SELECT CAST(rnk AS BIGINT) AS rnk, minute_utc, n_fires, n_deployments
    FROM ranked WHERE rnk <= 10 ORDER BY rnk
    """,
)
def q335_fleet_thundering_herd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet load-shape analysis (thundering-herd detection): fold the
    q333 fleet's year of fire instants onto UTC minute-of-day and rank
    the ten hottest minutes by fire count (deterministic tiebreak on
    the minute).  This is the capacity question an orchestrator answers
    before a fleet rollout — which wall-clock minutes concentrate load
    when schedules cluster on round local times across timezones (the
    reason CronCreate-style systems nudge off :00).  Scale shape: the
    expansion is q333's flat candidate pipeline; the fold is a 1440-key
    aggregate (partial map-side), then a 1440-row top-k — nothing
    driver-side grows with the fleet."""
    from pyspark.sql import Window

    fires = _fleet_fires(spark, sf_dir)
    per_min = (
        fires.withColumn("minute_utc", F.date_format("fire_utc", "HH:mm"))
        .groupBy("minute_utc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fires"),
            F.countDistinct("deployment_id").cast("bigint").alias(
                "n_deployments"
            ),
        )
    )
    w = Window.orderBy(F.col("n_fires").desc(), F.col("minute_utc"))
    return (
        per_min.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 10)
        .select("rnk", "minute_utc", "n_fires", "n_deployments")
        .orderBy("rnk")
    )
