"""Deployment scheduling: RRULE build/parse/expand, the distributed
fleet expansion, lifecycle, and the scheduler loop.

Reference surface: datapipe_ui/ui_backend.py:89-197 (build_schedule),
api_backend.py:48-163 (lifecycle wire calls), utils.py:216-253 (status /
schedule-state derivation), with Prefect's expand-and-fire loop replaced
by SchedulerService over the engine's commit log."""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta
from zoneinfo import ZoneInfo

import pytest

from stock_ops_spark.scheduling import (
    _FIRE_SCHEMA,
    DeploymentNotFound,
    DeploymentOps,
    LocalDeploymentAPI,
    SchedulerService,
    build_schedule,
    fire_times_df,
    normalize_deployment_status,
    occurrences,
    parse_schedule,
    spark_runner,
    summarize_schedule_state,
)

UTC = ZoneInfo("UTC")


def _expand(payload: dict, end: datetime, start: datetime | None = None):
    s = parse_schedule(payload["schedule"]["rrule"])
    return list(occurrences(s, end, window_start=start))


# ---------------------------------------------------------------------------
# build_schedule (reference validation + emission rules)
# ---------------------------------------------------------------------------


def test_build_schedule_emission_rules():
    p = build_schedule(
        timezone="America/New_York",
        freq="DAILY",
        dtstart_local=datetime(2025, 3, 7, 9, 30),
    )
    rrule = p["schedule"]["rrule"]
    assert rrule.startswith("DTSTART;TZID=America/New_York:20250307T093000\n")
    # DAILY emits all three time refinements, defaulted from DTSTART
    assert "BYHOUR=9" in rrule and "BYMINUTE=30" in rrule and "BYSECOND=0" in rrule

    h = build_schedule(
        timezone="UTC", freq="HOURLY", dtstart_local=datetime(2025, 1, 1, 4, 15)
    )["schedule"]["rrule"]
    # HOURLY refines minute+second only (over-restricting BYHOUR would
    # collapse the rule to one fire per day — the reference comment)
    assert "BYHOUR" not in h and "BYMINUTE=15" in h and "BYSECOND=0" in h

    m = build_schedule(
        timezone="UTC", freq="MINUTELY", dtstart_local=datetime(2025, 1, 1, 4, 15, 30)
    )["schedule"]["rrule"]
    assert "BYMINUTE" not in m and "BYSECOND=30" in m


def test_build_schedule_until_is_utc_z():
    p = build_schedule(
        timezone="America/New_York",
        freq="DAILY",
        dtstart_local=datetime(2025, 1, 6, 9, 30),
        until_local=date(2025, 1, 10),
    )
    # 23:59:59 EST == 04:59:59+1d UTC
    assert "UNTIL=20250111T045959Z" in p["schedule"]["rrule"]


def test_build_schedule_validation():
    kw = dict(timezone="UTC", dtstart_local=datetime(2025, 1, 1, 8, 0))
    with pytest.raises(ValueError, match="Invalid FREQ"):
        build_schedule(freq="SECONDLY", **kw)
    with pytest.raises(ValueError, match="INTERVAL"):
        build_schedule(freq="DAILY", interval=0, **kw)
    with pytest.raises(ValueError, match="BYDAY"):
        build_schedule(freq="WEEKLY", byweekday=["MO", "XX"], **kw)
    with pytest.raises(ValueError, match="BYMONTH value"):
        build_schedule(freq="MONTHLY", bymonth=[13], **kw)
    with pytest.raises(ValueError, match="UNTIL must be after"):
        build_schedule(
            freq="DAILY", until_local=datetime(2024, 1, 1), **kw
        )


# ---------------------------------------------------------------------------
# occurrence expansion (RFC 5545 subset)
# ---------------------------------------------------------------------------


def test_daily_wall_time_stable_across_dst():
    p = build_schedule(
        timezone="America/New_York",
        freq="DAILY",
        dtstart_local=datetime(2025, 3, 7, 9, 30),
    )
    occ = _expand(p, datetime(2025, 3, 11, tzinfo=UTC))
    # local wall time pinned at 09:30; UTC instant shifts with the offset
    assert [t.strftime("%H:%M") for t in occ] == ["09:30"] * 4
    utc = [t.astimezone(UTC).strftime("%m-%d %H:%M") for t in occ]
    assert utc == ["03-07 14:30", "03-08 14:30", "03-09 13:30", "03-10 13:30"]


def test_weekly_interval_anchored_at_dtstart_week():
    p = build_schedule(
        timezone="UTC",
        freq="WEEKLY",
        interval=2,
        dtstart_local=datetime(2025, 1, 1, 8, 0),  # Wednesday
        byweekday=["MO", "WE"],
        until_local=date(2025, 2, 15),
    )
    occ = _expand(p, datetime(2026, 1, 1, tzinfo=UTC))
    assert [t.strftime("%Y-%m-%d") for t in occ] == [
        "2025-01-01",  # MO of dtstart week precedes DTSTART -> excluded
        "2025-01-13", "2025-01-15",
        "2025-01-27", "2025-01-29",
        "2025-02-10", "2025-02-12",
    ]


def test_monthly_day31_skips_short_months():
    p = build_schedule(
        timezone="UTC", freq="MONTHLY", dtstart_local=datetime(2025, 1, 31, 6, 0)
    )
    occ = _expand(p, datetime(2025, 6, 1, tzinfo=UTC))
    assert [t.strftime("%Y-%m-%d") for t in occ] == [
        "2025-01-31", "2025-03-31", "2025-05-31",
    ]


def test_monthly_negative_bymonthday_is_month_end():
    p = build_schedule(
        timezone="UTC",
        freq="MONTHLY",
        dtstart_local=datetime(2025, 1, 1, 6, 0),
        bymonthday=[-1],
    )
    occ = _expand(p, datetime(2025, 5, 1, tzinfo=UTC))
    assert [t.strftime("%Y-%m-%d") for t in occ] == [
        "2025-01-31", "2025-02-28", "2025-03-31", "2025-04-30",
    ]


def test_monthly_bysetpos_last_weekday():
    p = build_schedule(
        timezone="UTC",
        freq="MONTHLY",
        dtstart_local=datetime(2025, 1, 1, 17, 0),
        byweekday=["MO", "TU", "WE", "TH", "FR"],
        bysetpos=[-1],
    )
    occ = _expand(p, datetime(2025, 5, 1, tzinfo=UTC))
    assert [t.strftime("%Y-%m-%d %a") for t in occ] == [
        "2025-01-31 Fri", "2025-02-28 Fri", "2025-03-31 Mon", "2025-04-30 Wed",
    ]


def test_yearly_bymonth_expansion():
    p = build_schedule(
        timezone="UTC",
        freq="YEARLY",
        dtstart_local=datetime(2024, 3, 15, 12, 0),
        bymonth=[3, 9],
    )
    occ = _expand(p, datetime(2025, 12, 31, tzinfo=UTC))
    assert [t.strftime("%Y-%m-%d") for t in occ] == [
        "2024-03-15", "2024-09-15", "2025-03-15", "2025-09-15",
    ]


def test_hourly_and_minutely_stride():
    p = build_schedule(
        timezone="UTC", freq="HOURLY", interval=6,
        dtstart_local=datetime(2025, 1, 1, 1, 15),
    )
    occ = _expand(p, datetime(2025, 1, 2, 12, 0, tzinfo=UTC))
    assert [t.strftime("%d %H:%M") for t in occ] == [
        "01 01:15", "01 07:15", "01 13:15", "01 19:15", "02 01:15", "02 07:15",
    ]
    p2 = build_schedule(
        timezone="UTC", freq="MINUTELY", interval=90,
        dtstart_local=datetime(2025, 1, 1, 0, 0),
    )
    occ2 = _expand(p2, datetime(2025, 1, 1, 6, 0, tzinfo=UTC))
    assert [t.strftime("%H:%M") for t in occ2] == [
        "00:00", "01:30", "03:00", "04:30", "06:00",
    ]


def test_until_is_inclusive_and_window_start_exclusive():
    p = build_schedule(
        timezone="UTC",
        freq="DAILY",
        dtstart_local=datetime(2025, 1, 1, 8, 0),
        until_local=datetime(2025, 1, 3, 8, 0),
    )
    occ = _expand(p, datetime(2026, 1, 1, tzinfo=UTC))
    assert len(occ) == 3  # Jan 1, 2, 3 — UNTIL bound included (RFC)
    occ2 = _expand(
        p, datetime(2026, 1, 1, tzinfo=UTC),
        start=datetime(2025, 1, 1, 8, 0, tzinfo=UTC),
    )
    assert [t.day for t in occ2] == [2, 3]  # t <= window_start excluded


def test_daily_byday_filters():
    p = build_schedule(
        timezone="UTC",
        freq="DAILY",
        dtstart_local=datetime(2025, 1, 6, 8, 0),  # Monday
        byweekday=["MO", "FR"],
    )
    occ = _expand(p, datetime(2025, 1, 20, tzinfo=UTC))
    assert all(t.weekday() in (0, 4) for t in occ)
    assert [t.strftime("%m-%d") for t in occ] == [
        "01-06", "01-10", "01-13", "01-17",
    ]


def test_dst_gap_resolves_forward():
    # 02:30 America/New_York does not exist on 2025-03-09 (spring-forward);
    # the occurrence resolves to the first instant after the gap — the
    # same instant java.time / ICU produce, so Spark and DuckDB agree.
    p = build_schedule(
        timezone="America/New_York",
        freq="DAILY",
        dtstart_local=datetime(2025, 3, 8, 2, 30),
    )
    occ = _expand(p, datetime(2025, 3, 10, tzinfo=UTC))
    utc = [t.astimezone(UTC).strftime("%m-%d %H:%M") for t in occ]
    assert utc == ["03-08 07:30", "03-09 07:30"]  # 07:30Z == 03:30 EDT


# ---------------------------------------------------------------------------
# distributed fleet expansion == driver expander
# ---------------------------------------------------------------------------


def test_fire_times_df_matches_driver_expander(spark):
    import random

    from pyspark.sql import functions as F

    tzs = ["America/New_York", "UTC", "Asia/Tokyo", "Europe/London"]
    w0 = datetime(1996, 1, 1, tzinfo=UTC)
    w1 = datetime(1996, 7, 1, tzinfo=UTC)
    rng = random.Random(7)
    rows, expect = [], set()
    for i in range(30):
        freq = ["DAILY", "WEEKLY", "MONTHLY"][i % 3]
        interval = 1 + i % 4
        tz = tzs[i % 4]
        byday = None
        if freq == "WEEKLY" or (freq == "DAILY" and i % 5 == 0):
            byday = sorted(
                rng.sample(["MO", "TU", "WE", "TH", "FR", "SA", "SU"], 1 + i % 3)
            )
        if freq == "MONTHLY":
            bymonthday = [[15], [-1], None][i % 3]
        else:
            # exercised on DAILY (a limit) AND WEEKLY (ignored — RFC 5545
            # forbids BYMONTHDAY with WEEKLY; both paths must agree)
            bymonthday = [10, 25] if i % 6 in (1, 3) else None
        dt0 = datetime(1996, 1, 1 + i % 28, 4 + i % 20, (i * 7) % 60, i % 60)
        until = None if i % 4 else datetime(1996, 5, 1 + i % 20, 12, 0)
        p = build_schedule(
            timezone=tz, freq=freq, dtstart_local=dt0, interval=interval,
            byweekday=byday, bymonthday=bymonthday, until_local=until,
        )
        s = parse_schedule(p["schedule"]["rrule"])
        until_utc = (
            s.until.astimezone(UTC).strftime("%Y-%m-%d %H:%M:%S")
            if s.until else None
        )
        rows.append(
            (f"dep-{i:03d}", i, freq, interval, byday, None, bymonthday,
             dt0.hour, dt0.minute, dt0.second, tz,
             dt0.strftime("%Y-%m-%d %H:%M:%S"), until_utc)
        )
        # window_start is exclusive in occurrences; [w0, w1) in the DF —
        # expand from just before w0 and clip identically
        for t in occurrences(s, w1, window_start=w0 - timedelta(seconds=1)):
            tu = t.astimezone(UTC)
            if w0 <= tu < w1:
                expect.add((f"dep-{i:03d}", i, tu.strftime("%Y-%m-%d %H:%M:%S")))

    out = fire_times_df(
        spark,
        spark.createDataFrame(rows, _FIRE_SCHEMA),
        "1996-01-01 00:00:00",
        "1996-07-01 00:00:00",
    )
    got = {
        (r.deployment_id, r.schedule_id, r.f)
        for r in out.withColumn(
            "f", F.date_format("fire_utc", "yyyy-MM-dd HH:mm:ss")
        ).collect()
    }
    assert got == expect and len(got) > 500


def test_fire_times_df_rejects_unsupported_freq(spark):
    rows = [("d", 0, "SECONDLY", 1, None, None, None, 1, 0, 0, "UTC",
             "1996-01-01 01:00:00", None)]
    with pytest.raises(ValueError, match="fire_times_df covers"):
        fire_times_df(
            spark, spark.createDataFrame(rows, _FIRE_SCHEMA),
            "1996-01-01 00:00:00", "1996-02-01 00:00:00",
        )


# ---------------------------------------------------------------------------
# lifecycle (LocalDeploymentAPI + DeploymentOps)
# ---------------------------------------------------------------------------


def _mk_ops(tmp_path, mode="hist"):
    api = LocalDeploymentAPI(str(tmp_path))
    return api, DeploymentOps(api, provider="EODHD-mock", mode=mode)


def test_lifecycle_states(tmp_path):
    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "NVDA", "exchange": "US", "interval": "d",
           "start": "2024-10-25", "end": "2024-10-28"}
    assert ops.create_deployment(cfg) is True  # registered -> READY
    dep_id = cfg["deployment_id"]

    # PRIME: exists, no schedules
    st, f = ops.get_deployment_status_bundle(dep_id)
    assert (st, f["schedule_mode"], f["schedule_active"]) == ("READY", "PRIME", None)

    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="DAILY", dtstart_local=datetime(2025, 1, 1, 8, 0)
    )]
    assert ops.schedule_deployment(cfg) is True
    st, f = ops.get_deployment_status_bundle(dep_id)
    assert (st, f["schedule_mode"]) == ("READY", "ACTIVE")
    assert len(f["server_schedules"]) == 1
    # schedule parameters carry the controller command (reference shape)
    params = f["server_schedules"][0]["parameters"]
    assert params["command_type"] == "fetch_historical"
    assert params["command"]["ticker"] == "NVDA"

    ops.pause_schedule(dep_id)
    st, f = ops.get_deployment_status_bundle(dep_id)
    assert f["schedule_mode"] == "PAUSED" and f["schedule_paused"] is True
    ops.resume_schedule(dep_id)
    assert ops.get_deployment_status_bundle(dep_id)[1]["schedule_mode"] == "ACTIVE"

    # second create_deployment with an existing id only re-checks status
    assert ops.create_deployment(cfg) is True

    ops.delete_active_deployment(dep_id)
    st, f = ops.get_deployment_status_bundle(dep_id)  # 404 analog
    assert (st, f["deleted_on_server"], f["schedule_mode"]) == (
        "DELETED", True, "PRIME")
    with pytest.raises(DeploymentNotFound):
        api.check_deployment_status(dep_id)


def test_status_and_schedule_state_helpers():
    assert normalize_deployment_status({"status": {"status": "READY"}}) == "READY"
    assert normalize_deployment_status({"status": "READY"}) == "READY"
    assert normalize_deployment_status({"status": {"nope": 1}}) == "NOT_READY"
    assert normalize_deployment_status("READY") == "READY"
    assert normalize_deployment_status(42) == "NOT_READY"

    assert summarize_schedule_state({"paused": True}) == (False, True, "PAUSED")
    assert summarize_schedule_state(
        {"schedules": [{"active": True}]}
    ) == (True, False, "ACTIVE")
    assert summarize_schedule_state(
        {"schedules": [{"active": False}]}
    ) == (False, False, "PRIME")
    assert summarize_schedule_state({"schedules": []}) == (None, False, "PRIME")
    assert summarize_schedule_state(None) == (None, None, "PRIME")


def test_schedule_payload_validation(tmp_path):
    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "T", "exchange": "US", "interval": "d",
           "start": "2024-01-01", "end": "2024-01-02"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [{"nope": 1}]
    with pytest.raises(ValueError, match="Invalid schedule object"):
        ops.schedule_deployment(cfg)
    cfg["schedules"] = []
    with pytest.raises(ValueError, match="No schedules"):
        ops.schedule_deployment(cfg)
    # a malformed rrule is rejected at create time, not at first tick
    cfg["schedules"] = [{"active": True, "schedule": {"rrule": "RRULE:FREQ=NOPE"}}]
    with pytest.raises(ValueError):
        ops.schedule_deployment(cfg)


def test_stream_mode_command_shape(tmp_path):
    api, ops = _mk_ops(tmp_path, mode="stream")
    cfg = {"ticker": ["AAPL"], "exchange": "US", "stream_type": "trades",
           "duration": 2}
    cmd = ops.build_command(cfg)
    assert cmd["duration"] == 7200.0 and cmd["stream_type"] == "trades"
    assert ops.get_command_type() == "start_stream"


def test_trigger_flow_and_refresh_state(tmp_path):
    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "NVDA", "exchange": "US", "interval": "d",
           "start": "2024-10-25", "end": "2024-10-28"}
    ops.create_deployment(cfg)
    run_id, name = ops.trigger_flow(cfg)
    cfg["flow_run_id"] = run_id
    assert ops.refresh_flow_state(cfg) == "PENDING"
    assert cfg["flow_state"] == "PENDING" and cfg["flow_run_name"] == name


# ---------------------------------------------------------------------------
# SchedulerService (the Prefect stand-in)
# ---------------------------------------------------------------------------


def _deploy_daily(ops, name="d", ticker="NVDA", dtstart=datetime(2025, 3, 7, 17, 0),
                  tz="America/New_York"):
    cfg = {"deployment_name": name, "deployment_id": None,
           "ticker": ticker, "exchange": "US", "interval": "d",
           "start": "2024-10-25", "end": "2024-10-28"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(timezone=tz, freq="DAILY",
                                       dtstart_local=dtstart)]
    ops.schedule_deployment(cfg)
    return cfg


def test_tick_catchup_idempotence_and_effectively_once(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    cfg = _deploy_daily(ops)
    store = ManifestStore(spark, str(tmp_path / "store"))
    sched = SchedulerService(api, spark_runner(spark, store))

    now = datetime(2025, 3, 10, 0, 0, tzinfo=UTC)
    res = sched.tick(now)
    # catch-up: 3 daily fires since dtstart (Mar 7/8/9 local 17:00)
    assert [r.state for r in res] == ["COMPLETED"] * 3
    # DST shift visible in the UTC instants (22:00Z -> 21:00Z)
    assert [r.fire_utc[11:] for r in res] == [
        "22:00:00Z", "22:00:00Z", "21:00:00Z"]

    # re-tick same instant: no new runs (key-set dedup)
    assert sched.tick(now) == []

    # three runs all fetched the same mock range; the store's dedup
    # writer keeps the ingest effectively-once
    assert store.read_all("historical_interday").count() == 2
    assert [r["state"]["type"] for r in sched.run_log()] == ["COMPLETED"] * 3


def test_pause_advances_watermark_without_backfill(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    cfg = _deploy_daily(ops)
    store = ManifestStore(spark, str(tmp_path / "store"))
    sched = SchedulerService(api, spark_runner(spark, store))
    sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))

    ops.pause_schedule(cfg["deployment_id"])
    assert sched.tick(datetime(2025, 3, 12, 0, 0, tzinfo=UTC)) == []
    ops.resume_schedule(cfg["deployment_id"])
    # Prefect semantics: fires during the pause are NOT backfilled (the
    # paused tick still advanced the watermark); only post-resume fires run
    res = sched.tick(datetime(2025, 3, 13, 0, 0, tzinfo=UTC))
    assert [r.fire_utc for r in res] == ["2025-03-12T21:00:00Z"]


def test_crash_between_record_and_dispatch_redelivers(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    cfg = _deploy_daily(ops)
    store = ManifestStore(spark, str(tmp_path / "store"))

    calls = {"n": 0}
    real = spark_runner(spark, store)

    def crashy(params):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("executor lost")  # crash mid-dispatch
        return real(params)

    sched = SchedulerService(api, crashy)
    res = sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    states = [r.state for r in res]
    assert states.count("FAILED") == 1 and states.count("COMPLETED") == 2

    # FAILED is terminal (an operator re-triggers); PENDING is not: simulate
    # a crash BEFORE dispatch by recording runs and killing the process —
    # here, by building a second scheduler over the same log after manually
    # recording a PENDING run
    v = api._commit({"action": "flow_runs", "runs": [{
        "id": "PENDING", "name": "d/recovery", "dep_id": cfg["deployment_id"],
        "key": f"{cfg['deployment_id']}/0/2025-03-10T21:00:00Z",
        "fire_utc": "2025-03-10T21:00:00Z",
        "parameters": {"command_type": "fetch_historical",
                       "command": {"ticker": "NVDA", "exchange": "US",
                                   "interval": "d", "start": "2024-10-25",
                                   "end": "2024-10-28"},
                       "provider": "EODHD-mock"},
    }]})
    sched2 = SchedulerService(api, spark_runner(spark, store))
    res2 = sched2.tick(datetime(2025, 3, 11, 0, 0, tzinfo=UTC))
    # the stranded PENDING run re-dispatched; its key also dedups the
    # Mar-10 fire so the occurrence does not double-run
    assert [r.run_id for r in res2] == [f"run-{v:06d}-0"]
    assert res2[0].state == "COMPLETED"
    # store still effectively-once despite the redelivery
    assert store.read_all("historical_interday").count() == 2


def test_multi_deployment_fleet_tick(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    cfgs = [
        _deploy_daily(ops, name=f"d{i}", ticker=t,
                      dtstart=datetime(2025, 3, 8, 17, 0))
        for i, t in enumerate(["NVDA", "AAPL", "MSFT"])
    ]
    store = ManifestStore(spark, str(tmp_path / "store"))
    sched = SchedulerService(api, spark_runner(spark, store))
    res = sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    assert len(res) == 6  # 3 deployments x 2 fires
    by_dep = {c["deployment_id"] for c in cfgs}
    assert {r.deployment_id for r in res} == by_dep
    # per-ticker rows: each ticker's 2 mock bars, deduped across its fires
    df = store.read_all("historical_interday")
    assert df.count() == 6


def test_resolve_fire_tokens():
    params = {
        "command_type": "fetch_historical",
        "command": {"ticker": "T", "start": "{fire_date-3}",
                    "end": "{fire_date-1}", "note": ["{fire_date}", 7]},
    }
    out = SchedulerService.resolve_fire_tokens(params, "2025-01-08T08:00:00Z")
    assert out["command"]["start"] == "2025-01-05"
    assert out["command"]["end"] == "2025-01-07"
    assert out["command"]["note"] == ["2025-01-08", 7]
    # static parameters (the reference shape) pass through untouched
    assert SchedulerService.resolve_fire_tokens(
        {"start": "2024-01-01"}, "2025-01-08T08:00:00Z"
    ) == {"start": "2024-01-01"}


def test_racing_ticks_converge_on_one_run_per_key(tmp_path):
    api = LocalDeploymentAPI(str(tmp_path))
    api.register_deployment("d1")
    run = {
        "id": "PENDING", "name": "d1/x", "dep_id": "dep-000001",
        "key": "dep-000001/0/2025-01-06T08:00:00Z",
        "fire_utc": "2025-01-06T08:00:00Z", "parameters": {},
    }
    # two racing schedulers commit the same due fire
    v1 = api._commit({"action": "flow_runs", "runs": [run]})
    v2 = api._commit({"action": "flow_runs", "runs": [dict(run)]})
    runs = api._fold()["flow_runs"]
    # the fold keeps the FIRST run per key — the loser's record is inert
    assert [r["id"] for r in runs.values()] == [f"run-{v1:06d}-0"]
    assert v2 == v1 + 1  # both commits landed; convergence is fold-side


def test_tick_watermark_is_one_commit_for_the_fleet(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    for i in range(3):
        _deploy_daily(ops, name=f"d{i}", ticker="NVDA",
                      dtstart=datetime(2025, 3, 9, 17, 0))
    store = ManifestStore(spark, str(tmp_path / "store"))
    sched = SchedulerService(api, spark_runner(spark, store))
    v_before = api.log.version()
    sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    commits = api.log.commits()[v_before:]
    marks = [c for c in commits if c["event"]["action"] == "watermarks"]
    assert len(marks) == 1 and len(marks[0]["event"]["marks"]) == 3


# ---------------------------------------------------------------------------
# event-log compaction (the data-store vacuum discipline on the deployment log)
# ---------------------------------------------------------------------------


def _runner_const(params):
    return 1


def _tick_days(sched, start_day, n_days):
    for d in range(n_days):
        sched.tick(datetime(2025, 1, start_day + d, 12, 0, tzinfo=UTC))


def test_compact_preserves_state_and_dedup_memory(tmp_path):
    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "T", "exchange": "US", "interval": "d",
           "start": "2024-01-01", "end": "2024-01-02"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="DAILY", dtstart_local=datetime(2025, 1, 6, 8, 0))]
    ops.schedule_deployment(cfg)
    sched = SchedulerService(api, _runner_const, auto_compact=None)
    _tick_days(sched, 7, 5)  # 5 ticks, one new fire each
    before = api._fold()
    assert len(before["flow_runs"]) == 6  # Jan 6 catch-up + Jan 7..11

    res = api.compact(retain_last=2)
    assert res["commits_dropped"] > 0
    after = api._fold()
    # deployments / watermarks / run records and states identical
    assert after["deployments"] == before["deployments"]
    assert after["watermarks"] == before["watermarks"]
    assert {r["key"] for r in after["flow_runs"].values()} == {
        r["key"] for r in before["flow_runs"].values()}
    # dedup memory intact: re-tick over the same window fires nothing
    assert sched.tick(datetime(2025, 1, 11, 12, 0, tzinfo=UTC)) == []
    # and the next real fire still happens exactly once
    res2 = sched.tick(datetime(2025, 1, 12, 12, 0, tzinfo=UTC))
    assert [r.fire_utc for r in res2] == ["2025-01-12T08:00:00Z"]


def test_compact_crash_between_checkpoint_and_delete_is_harmless(tmp_path):
    import shutil as _sh

    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "T", "exchange": "US", "interval": "d",
           "start": "2024-01-01", "end": "2024-01-02"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="DAILY", dtstart_local=datetime(2025, 1, 6, 8, 0))]
    ops.schedule_deployment(cfg)
    sched = SchedulerService(api, _runner_const, auto_compact=None)
    _tick_days(sched, 7, 4)
    backup = str(tmp_path / "log_backup")
    _sh.copytree(api.log.log_dir, backup)

    api.compact(retain_last=2)
    after = api._fold()
    # crash simulation: the deletes never happened — restore every
    # pre-checkpoint commit alongside the checkpoint; the fold RESETS at
    # the checkpoint so the state must be identical
    for f in sorted(os.listdir(backup)):
        dst = os.path.join(api.log.log_dir, f)
        if not os.path.exists(dst):
            _sh.copy(os.path.join(backup, f), dst)
    assert api._fold() == after


def test_compact_stops_on_failed_remove_no_gap(tmp_path, monkeypatch):
    """A delete that fails mid-truncation must STOP the loop: deleting
    the newer commits past it would leave a gap in the contiguous
    [min_version, version] range the fold reads, and every later fold
    (so every scheduler tick) would raise FileNotFoundError."""
    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "T", "exchange": "US", "interval": "d",
           "start": "2024-01-01", "end": "2024-01-02"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="DAILY", dtstart_local=datetime(2025, 1, 6, 8, 0))]
    ops.schedule_deployment(cfg)
    sched = SchedulerService(api, _runner_const, auto_compact=None)
    _tick_days(sched, 7, 4)
    before = api._fold()
    horizon = api.log.version() - 1
    assert horizon > 4
    real_remove = os.remove

    def flaky(path):
        if path.endswith(f"{3:08d}.json"):
            raise PermissionError("simulated sticky file")
        return real_remove(path)

    monkeypatch.setattr(os, "remove", flaky)
    res = api.compact(retain_last=2)
    assert api._fold() == before
    assert res == {"checkpointed": horizon, "commits_dropped": 2}
    assert api.log.min_version() == 3  # a contiguous suffix survives
    monkeypatch.setattr(os, "remove", real_remove)
    api.compact(retain_last=2)  # the retry completes the truncation
    assert api.log.min_version() == horizon
    assert api._fold() == before


def test_compact_truncates_terminal_history_keeps_pending(tmp_path):
    api, _ = _mk_ops(tmp_path)
    api.register_deployment("d1")
    for i in range(6):
        v = api._commit({"action": "flow_runs", "runs": [{
            "id": "PENDING", "name": f"d1/{i}", "dep_id": "dep-000001",
            "key": f"dep-000001/0/f{i}", "fire_utc": "", "parameters": {}}]})
        if i < 5:  # leave the last one PENDING
            api._commit({"action": "flow_run_state",
                         "run_id": f"run-{v:06d}-0", "state": "COMPLETED",
                         "rows": i})
    api.compact(retain_last=1, keep_terminal_runs=2)
    st = api._fold()
    states = [r["state"]["type"] for r in st["flow_runs"].values()]
    assert states.count("PENDING") == 1      # non-terminal survives in full
    assert states.count("COMPLETED") == 2    # newest terminal records kept
    # every key survives as dedup memory even when its record is gone
    seen = {r["key"] for r in st["flow_runs"].values()}
    assert len(seen) == 3
    fresh = api._commit({"action": "flow_runs", "runs": [{
        "id": "PENDING", "name": "dup", "dep_id": "dep-000001",
        "key": "dep-000001/0/f0", "fire_utc": "", "parameters": {}}]})
    assert fresh > 0
    # the duplicate of a truncated-but-remembered key is inert
    assert len(api._fold()["flow_runs"]) == 3


def test_auto_compact_bounds_the_fold(tmp_path):
    api, ops = _mk_ops(tmp_path)
    cfg = {"deployment_name": "d1", "deployment_id": None,
           "ticker": "T", "exchange": "US", "interval": "d",
           "start": "2024-01-01", "end": "2024-01-02"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="DAILY", dtstart_local=datetime(2025, 1, 6, 8, 0))]
    ops.schedule_deployment(cfg)
    sched = SchedulerService(api, _runner_const, auto_compact=24)
    _tick_days(sched, 7, 20)
    live = api.log.version() - api.log.min_version() + 1
    assert live <= 24 + 6  # ticks between compactions stay bounded
    # and the scheduler is still exactly-once after multiple compactions
    assert sched.tick(datetime(2025, 1, 26, 12, 0, tzinfo=UTC)) == []


# ---------------------------------------------------------------------------
# scheduled store maintenance (the ops-automation loop)
# ---------------------------------------------------------------------------


def test_scheduled_compaction_runs_through_the_scheduler(spark, tmp_path):
    from stock_ops_spark import schemas as S
    from stock_ops_spark.sources.commitlog import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "store"), auto_compact_every=0)
    base = 1736951400  # 2025-01-15 09:30 EST
    for i in range(4):  # micro-batch litter: one batch dir per commit
        rows = [("SPY", base + 3600 * i, 1.0 * i, 2.0, 0.5, 1.5, 10 + i, "1h")]
        df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
        assert store.ingest_batch(df, "historical_intraday") == 1
    log = store.log("historical_intraday")
    assert len(log.state()["dirs"]) == 4
    before_rows = sorted(
        map(tuple, store.read_all("historical_intraday").collect())
    )

    api = LocalDeploymentAPI(str(tmp_path / "api"))
    ops = DeploymentOps(api, provider="EODHD-mock", mode="maintain")
    cfg = {"deployment_name": "nightly-compact", "deployment_id": None,
           "op": "compact", "store_mode": "historical_intraday"}
    ops.create_deployment(cfg)
    assert ops.get_command_type() == "maintain_store"
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="DAILY", dtstart_local=datetime(2025, 1, 16, 3, 0))]
    ops.schedule_deployment(cfg)

    sched = SchedulerService(api, spark_runner(spark, store))
    res = sched.tick(datetime(2025, 1, 16, 4, 0, tzinfo=UTC))
    assert [r.state for r in res] == ["COMPLETED"]
    assert res[0].rows == 3  # batch dirs folded away
    assert len(log.state()["dirs"]) == 1
    after_rows = sorted(
        map(tuple, store.read_all("historical_intraday").collect())
    )
    assert after_rows == before_rows
    # next-night tick: one live dir, compaction is a no-op run
    res2 = sched.tick(datetime(2025, 1, 17, 4, 0, tzinfo=UTC))
    assert [r.rows for r in res2] == [0]


def test_maintain_retain_command_through_run_command(spark, tmp_path):
    from stock_ops_spark import schemas as S
    from stock_ops_spark.sources import services
    from stock_ops_spark.sources.commitlog import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "store"))
    rows = [  # Dec 2024 + Jan 2025 partitions (exchange-local routing)
        ("SPY", 1734705000, 600.0, 601.0, 599.0, 600.5, 1000, "1h"),
        ("SPY", 1736951400, 610.0, 611.0, 609.0, 610.5, 1100, "1h"),
    ]
    df = spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
    store.ingest_batch(df, "historical_intraday")
    n = services.run_command(
        spark, store, "maintain_store",
        {"op": "retain", "mode": "historical_intraday", "keep_from": [2025]},
    )
    assert n == 1  # the one batch dir, rewritten without its 2024 row
    left = store.read_all("historical_intraday").collect()
    assert len(left) == 1 and left[0]["timestamp_UTC_s"] == 1736951400
    with pytest.raises(ValueError, match="Unsupported maintenance op"):
        services.run_command(
            spark, store, "maintain_store",
            {"op": "nope", "mode": "historical_intraday"},
        )


def test_maintain_store_commits_through_the_manifest(spark, tmp_path):
    """Every maintain_store op acts on the live batch dirs of the
    manifest: retain drops the expired rows at the exchange-local cutoff
    of its keep_from grain in each mode's time unit, and compact leaves
    one live dir, partitioned or not."""
    import datetime as _dt

    from stock_ops_spark import schemas as S
    from stock_ops_spark.sources import services
    from stock_ops_spark.sources.commitlog import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "store"), auto_compact_every=0)

    def run(op, mode, **kw):
        return services.run_command(
            spark, store, "maintain_store", {"op": op, "mode": mode, **kw}
        )

    # intraday: Jan/Feb/Mar 2025 (mid-month 09:30 EST), one commit each
    jan, feb, mar = 1736951400, 1739629800, 1742045400
    for ts in (jan, feb, mar):
        store.ingest_batch(spark.createDataFrame(
            [("SPY", ts, 1.0, 2.0, 0.5, 1.5, 10, "1h")],
            schema=S.HISTORICAL_INTRADAY,
        ), "historical_intraday")
    assert run("retain", "historical_intraday", keep_from=[2025, 2]) == 1
    kept = store.read_all("historical_intraday").collect()
    assert sorted(r["timestamp_UTC_s"] for r in kept) == [feb, mar]
    assert run("compact", "historical_intraday") == 1
    assert len(store.log("historical_intraday").state()["dirs"]) == 1
    assert store.read_all("historical_intraday").count() == 2

    # interday (unpartitioned, ISO-date cutoff)
    for d in (1, 2, 3):
        store.ingest_batch(spark.createDataFrame(
            [("SPY", _dt.date(2025, d, 15), 1.0, 2.0, 0.5, 1.5, 1.2, 100, "d")],
            schema=S.HISTORICAL_INTERDAY,
        ), "historical_interday")
    assert run("compact", "historical_interday") == 2
    assert len(store.log("historical_interday").state()["dirs"]) == 1
    assert run("retain", "historical_interday", keep_from=[2025, 3]) == 1
    kept = store.read_all("historical_interday").collect()
    assert [r["date"] for r in kept] == [_dt.date(2025, 3, 15)]

    # streaming (epoch-ms cutoff): 2025-08-17 23:59:59 EDT expires,
    # 2025-08-18 00:00:00 EDT is kept
    midnight_ms = 1755489600000
    store.ingest_batch(spark.createDataFrame(
        [("SPY", midnight_ms - 1000, 1.0, 1, None, None, None, None),
         ("SPY", midnight_ms, 1.0, 1, None, None, None, None)],
        schema=S.STREAMING,
    ), "streaming")
    assert run("retain", "streaming", keep_from=[2025, 8, 18]) == 1
    kept = store.read_all("streaming").collect()
    assert [r["timestamp_UTC_ms"] for r in kept] == [midnight_ms]


def test_occurrences_fast_forward_equals_full_iteration():
    # windowed expansion (fast-forwarded periods) must equal the full
    # iteration filtered to the window, for every freq and odd interval
    import itertools as it

    cases = []
    for freq, interval in it.product(
        ["DAILY", "WEEKLY", "MONTHLY", "YEARLY", "HOURLY", "MINUTELY"],
        [1, 3, 7],
    ):
        # sub-daily grains get a nearer dtstart: their full-iteration
        # reference arm is exactly the O(lifetime) cost fast-forward
        # avoids (a 5-year MINUTELY baseline alone costs ~a minute)
        d0 = (datetime(2025, 1, 31, 9, 30)
              if freq in ("HOURLY", "MINUTELY")
              else datetime(2020, 1, 31, 9, 30))
        kw = dict(timezone="America/New_York", freq=freq, interval=interval,
                  dtstart_local=d0)
        if freq == "WEEKLY":
            kw["byweekday"] = ["MO", "FR"]
        if freq == "MONTHLY":
            kw["bymonthday"] = [-1, 15]
        cases.append(build_schedule(**kw))
    # window years after dtstart, sized per grain to keep MINUTELY sane
    w0 = datetime(2025, 3, 8, 0, 0, tzinfo=UTC)   # spans the DST gap
    w1 = datetime(2025, 3, 12, 0, 0, tzinfo=UTC)
    for p in cases:
        s = parse_schedule(p["schedule"]["rrule"])
        fast = list(occurrences(s, w1, window_start=w0))
        full = [t for t in occurrences(s, w1) if t > w0]
        assert fast == full, s.freq


def test_expander_matches_dateutil_rrule_reference():
    """Cross-validate against dateutil.rrule (the canonical RFC 5545
    engine, present as a pandas dependency) on randomized rules: same
    DTSTART, same BY* derivation as build_schedule's emission, compared
    on local wall times.  BYMONTHDAY+WEEKLY is excluded (RFC forbids
    the combination; this engine documents 'ignored')."""
    du = pytest.importorskip("dateutil.rrule")
    import random

    FREQ = {"DAILY": du.DAILY, "WEEKLY": du.WEEKLY, "MONTHLY": du.MONTHLY,
            "YEARLY": du.YEARLY, "HOURLY": du.HOURLY, "MINUTELY": du.MINUTELY}
    WD = {"MO": du.MO, "TU": du.TU, "WE": du.WE, "TH": du.TH, "FR": du.FR,
          "SA": du.SA, "SU": du.SU}
    rng = random.Random(11)
    n_checked = 0
    for i in range(60):
        freq = list(FREQ)[i % 6]
        interval = [1, 2, 3, 5][i % 4]
        byday = None
        if freq in ("DAILY", "WEEKLY", "MONTHLY") and i % 3 != 0:
            byday = sorted(rng.sample(list(WD), 1 + i % 3))
        bymonthday = None
        if freq in ("MONTHLY", "YEARLY") and i % 4 == 1:
            # with byday also set, RFC says BYDAY LIMITS the expansion
            bymonthday = sorted(rng.sample([-1, -15, 1, 10, 28], 2))
        bysetpos = [-1] if (freq == "MONTHLY" and byday and i % 5 == 0) else None
        bymonth = sorted(rng.sample(range(1, 13), 2)) if i % 7 == 0 else None
        dt0 = datetime(2024, 1 + i % 12, 1 + i % 28,
                       i % 24, (i * 13) % 60, (i * 7) % 60)
        horizon = datetime(2024 + (2 if freq in ("MONTHLY", "YEARLY") else 0),
                           12, 31, 23, 59, 59)
        if freq == "MINUTELY":
            horizon = dt0 + timedelta(days=3)
        if freq == "HOURLY":
            horizon = dt0 + timedelta(days=45)

        p = build_schedule(
            timezone="UTC", freq=freq, dtstart_local=dt0, interval=interval,
            byweekday=byday, bymonthday=bymonthday, bysetpos=bysetpos,
            bymonth=bymonth,
        )
        s = parse_schedule(p["schedule"]["rrule"])
        mine = [t.replace(tzinfo=None)
                for t in occurrences(s, horizon.replace(tzinfo=UTC))]

        kw = dict(freq=FREQ[freq], dtstart=dt0, interval=interval,
                  until=horizon)
        if byday:
            kw["byweekday"] = [WD[d] for d in byday]
        if bymonthday:
            kw["bymonthday"] = bymonthday
        if bysetpos:
            kw["bysetpos"] = bysetpos
        if bymonth:
            kw["bymonth"] = bymonth
        # mirror build_schedule's BY* time emission
        if freq in ("DAILY", "WEEKLY", "MONTHLY", "YEARLY"):
            kw.update(byhour=dt0.hour, byminute=dt0.minute, bysecond=dt0.second)
        elif freq == "HOURLY":
            kw.update(byminute=dt0.minute, bysecond=dt0.second)
        else:
            kw.update(bysecond=dt0.second)
        ref = list(du.rrule(**kw))
        assert mine == ref, (freq, interval, byday, bymonthday, bysetpos,
                             bymonth, dt0, mine[:5], ref[:5])
        n_checked += len(mine)
    assert n_checked > 2000  # the comparison actually exercised fires


# ---------------------------------------------------------------------------
# batch dispatch (fleet shape: N same-window fetches -> one distributed job)
# ---------------------------------------------------------------------------


def test_batch_dispatch_coalesces_same_window_fetches(spark, tmp_path):
    from stock_ops_spark.scheduling import backfill_batcher
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    for i, t in enumerate(["NVDA", "AAPL", "MSFT"]):
        _deploy_daily(ops, name=f"d{i}", ticker=t,
                      dtstart=datetime(2025, 3, 9, 17, 0))
    store = ManifestStore(spark, str(tmp_path / "store"))
    calls = {"n": 0}
    real = backfill_batcher(spark, store)

    def counting(group, tickers):
        calls["n"] += 1
        return real(group, tickers)

    sched = SchedulerService(api, spark_runner(spark, store), batcher=counting)
    res = sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    # three same-window fetches -> ONE distributed backfill job
    assert calls["n"] == 1 and len(res) == 3
    assert {r.state for r in res} == {"COMPLETED"}
    # per-run attribution: each ticker's 2 mock bars
    assert [r.rows for r in res] == [2, 2, 2]
    assert store.read_all("historical_interday").count() == 6
    # re-fire next day, same static window: batch re-fetch dedups to zero
    res2 = sched.tick(datetime(2025, 3, 11, 0, 0, tzinfo=UTC))
    assert calls["n"] == 2 and [r.rows for r in res2] == [0, 0, 0]
    assert store.read_all("historical_interday").count() == 6


def test_batch_dispatch_mixed_groups_and_failure(spark, tmp_path):
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    for i, t in enumerate(["NVDA", "AAPL"]):
        _deploy_daily(ops, name=f"d{i}", ticker=t,
                      dtstart=datetime(2025, 3, 9, 17, 0))
    # a third deployment with a DIFFERENT interval: not batchable with them
    cfg = {"deployment_name": "dw", "deployment_id": None,
           "ticker": "SPY", "exchange": "US", "interval": "w",
           "start": "2024-10-25", "end": "2024-10-28"}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(
        timezone="America/New_York", freq="DAILY",
        dtstart_local=datetime(2025, 3, 9, 17, 0))]
    ops.schedule_deployment(cfg)

    store = ManifestStore(spark, str(tmp_path / "store"))
    single_calls = {"n": 0}
    real_runner = spark_runner(spark, store)

    def counting_runner(params):
        single_calls["n"] += 1
        return real_runner(params)

    def failing_batcher(group, tickers):
        raise RuntimeError("cluster lost")

    sched = SchedulerService(api, counting_runner, batcher=failing_batcher)
    res = sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    by_state = sorted((r.state for r in res))
    # the NVDA+AAPL group FAILED together; the lone 'w' run went per-run
    assert by_state == ["COMPLETED", "FAILED", "FAILED"]
    assert single_calls["n"] == 1


def test_crash_mid_dispatch_redelivers_running_run(spark, tmp_path):
    """A crash AFTER the RUNNING commit but before a terminal state must
    re-dispatch on the next tick (the at-least-once contract names this
    exact window) — RUNNING is non-terminal."""
    from stock_ops_spark.sources.commitlog import ManifestStore

    api, ops = _mk_ops(tmp_path)
    cfg = _deploy_daily(ops, dtstart=datetime(2025, 3, 9, 17, 0))
    store = ManifestStore(spark, str(tmp_path / "store"))

    class Boom(BaseException):
        pass

    def crashing(params):
        raise Boom()  # BaseException skips _dispatch's except Exception

    sched = SchedulerService(api, crashing)
    with pytest.raises(Boom):
        sched.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    stranded = [r for r in api._fold()["flow_runs"].values()
                if r["state"]["type"] == "RUNNING"]
    assert len(stranded) == 1  # crashed mid-dispatch, no terminal state

    sched2 = SchedulerService(api, spark_runner(spark, store))
    res = sched2.tick(datetime(2025, 3, 10, 0, 0, tzinfo=UTC))
    assert [r.state for r in res] == ["COMPLETED"]
    assert res[0].run_id == stranded[0]["id"]  # the SAME run, re-driven
    assert store.read_all("historical_interday").count() == 2


def test_fire_times_df_validation_rejects_silent_narrowing(spark):
    def _row(**kw):
        base = dict(deployment_id="d", schedule_id=0, freq="DAILY",
                    interval=1, byday=None, bymonth=None, bymonthday=None,
                    byhour=8, byminute=0, bysecond=0, tz="UTC",
                    dtstart="1996-01-01 08:00:00", until_utc=None)
        base.update(kw)
        return tuple(base[k] for k in (
            "deployment_id", "schedule_id", "freq", "interval", "byday",
            "bymonth", "bymonthday", "byhour", "byminute", "bysecond",
            "tz", "dtstart", "until_utc"))

    for bad in (
        _row(freq=None),                                   # NULL freq
        _row(freq="MONTHLY", byday=["FR"]),                # unsupported shape
        _row(freq="MONTHLY", bymonthday=[1, 15]),          # multi BYMONTHDAY
    ):
        with pytest.raises(ValueError, match="fire_times_df covers"):
            fire_times_df(
                spark, spark.createDataFrame([bad], _FIRE_SCHEMA),
                "1996-01-01 00:00:00", "1996-03-01 00:00:00",
            )


def test_fire_times_df_monthly_old_dtstart_clamped_window(spark):
    """A MONTHLY schedule with a years-old DTSTART expanded over a short
    window: the clamped month spine must return exactly the driver
    expander's fires (and not pay O(schedule age))."""
    from pyspark.sql import functions as F

    rows = [("d", 0, "MONTHLY", 5, None, None, [-1], 6, 30, 0, "UTC",
             "1988-03-01 06:30:00", None)]
    out = fire_times_df(
        spark, spark.createDataFrame(rows, _FIRE_SCHEMA),
        "1996-01-01 00:00:00", "1996-12-31 00:00:00",
    )
    got = sorted(r.f for r in out.withColumn(
        "f", F.date_format("fire_utc", "yyyy-MM-dd HH:mm:ss")).collect())
    p = build_schedule(timezone="UTC", freq="MONTHLY", interval=5,
                       bymonthday=[-1],
                       dtstart_local=datetime(1988, 3, 1, 6, 30))
    s = parse_schedule(p["schedule"]["rrule"])
    expect = sorted(
        t.strftime("%Y-%m-%d %H:%M:%S")
        for t in occurrences(s, datetime(1996, 12, 31, tzinfo=UTC),
                             window_start=datetime(1995, 12, 31, tzinfo=UTC))
        if t >= datetime(1996, 1, 1, tzinfo=UTC)
    )
    assert got == expect and len(got) == 2  # stride-5 from 1988-03


def test_fire_times_df_subdaily_and_yearly_match_driver(spark):
    """The HOURLY / MINUTELY / YEARLY DF branches against the driver
    expander: wall-clock strides (DST transitions keep the local
    pattern), BY* limits, YEARLY month-set semantics incl. the
    bare-BYMONTHDAY all-months expansion."""
    from pyspark.sql import functions as F

    W0, W1 = "2025-03-01 00:00:00", "2025-03-20 00:00:00"
    w0 = datetime(2025, 3, 1, tzinfo=UTC)
    w1 = datetime(2025, 3, 20, tzinfo=UTC)
    rows, rrules = [], []

    def add(i, freq, interval, tz="America/New_York", byday=None,
            bymonth=None, bymonthday=None, byhour=None, byminute=None,
            dt0="20250210T041503", until=None):
        parts = [f"FREQ={freq}", f"INTERVAL={interval}"]
        if byday:
            parts.append("BYDAY=" + ",".join(byday))
        if bymonth:
            parts.append("BYMONTH=" + ",".join(map(str, bymonth)))
        if bymonthday:
            parts.append("BYMONTHDAY=" + ",".join(map(str, bymonthday)))
        if byhour is not None:
            parts.append(f"BYHOUR={byhour}")
        if byminute is not None:
            parts.append(f"BYMINUTE={byminute}")
        parts.append("BYSECOND=3")
        rr = f"DTSTART;TZID={tz}:{dt0}\nRRULE:" + ";".join(parts)
        rrules.append((i, rr))
        d = datetime.strptime(dt0, "%Y%m%dT%H%M%S")
        rows.append((f"dep-{i:03d}", i, freq, interval, byday, bymonth,
                     bymonthday, byhour, byminute, 3, tz,
                     d.strftime("%Y-%m-%d %H:%M:%S"), None))

    add(0, "HOURLY", 5)                      # crosses the Mar-9 DST gap
    add(1, "HOURLY", 7, tz="Asia/Tokyo", byday=["MO", "TH"])
    add(2, "HOURLY", 1, byhour=9)            # BYHOUR as a LIMIT
    add(3, "MINUTELY", 90, dt0="20250301T000003")
    add(4, "MINUTELY", 137, tz="UTC", dt0="20250302T120003",
        bymonthday=[5, 6, 7])                # BYMONTHDAY as a LIMIT
    add(5, "MINUTELY", 720, byminute=15)     # BYMINUTE as a LIMIT
    # YEARLY over a wider window
    WY0, WY1 = "2024-01-01 00:00:00", "2028-01-01 00:00:00"
    wy0 = datetime(2024, 1, 1, tzinfo=UTC)
    wy1 = datetime(2028, 1, 1, tzinfo=UTC)
    add(6, "YEARLY", 1, dt0="20240229T093000")          # leap-day skip
    add(7, "YEARLY", 2, bymonth=[3, 9], dt0="20240315T093000")
    add(8, "YEARLY", 1, bymonthday=[-1], dt0="20240131T093000")  # all months

    expect = set()
    for i, rr in rrules:
        s = parse_schedule(rr)
        lo, hi = (wy0, wy1) if s.freq == "YEARLY" else (w0, w1)
        for t in occurrences(s, hi, window_start=lo - timedelta(seconds=1)):
            tu = t.astimezone(UTC)
            if lo <= tu < hi:
                expect.add((f"dep-{i:03d}", i, tu.strftime("%Y-%m-%d %H:%M:%S")))

    sdf = spark.createDataFrame(rows, _FIRE_SCHEMA)
    got = set()
    for lo_s, hi_s, freqs in ((W0, W1, ("HOURLY", "MINUTELY")),
                              ((WY0, WY1, ("YEARLY",)))):
        out = fire_times_df(
            spark, sdf.where(F.col("freq").isin(*freqs)), lo_s, hi_s)
        got |= {
            (r.deployment_id, r.schedule_id, r.f)
            for r in out.withColumn(
                "f", F.date_format("fire_utc", "yyyy-MM-dd HH:mm:ss")
            ).collect()
        }
    assert got == expect
    assert len(got) > 150  # the comparison saw real volume


def test_scheduled_stream_drain_cron_style(spark, tmp_path):
    """Cron-style streaming: each scheduler fire drains the landing
    zone availableNow under ONE persistent checkpoint — offsets
    progress exactly-once across fires, the dedup writer absorbs
    redelivered rows, and the run log records post-dedup counts."""
    import json as _json

    from stock_ops_spark.sources.commitlog import ManifestStore

    land = tmp_path / "landing"
    land.mkdir()

    def burst(name, rows):
        with open(land / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    t0 = 1755526571000
    burst("b1.json", [
        {"ticker": "SPY", "timestamp_UTC_ms": t0, "price": 1.0, "volume": 1},
        {"ticker": "SPY", "timestamp_UTC_ms": t0 + 1, "price": 1.1, "volume": 2},
    ])

    api, _ = _mk_ops(tmp_path)
    ops = DeploymentOps(api, provider="EODHD-mock", mode="drain")
    cfg = {"deployment_name": "drain-hourly", "deployment_id": None,
           "path": str(land), "checkpoint": str(tmp_path / "ckpt")}
    ops.create_deployment(cfg)
    assert ops.get_command_type() == "drain_stream"
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="HOURLY",
        dtstart_local=datetime(2025, 1, 6, 8, 0))]
    ops.schedule_deployment(cfg)

    store = ManifestStore(spark, str(tmp_path / "store"))
    sched = SchedulerService(api, spark_runner(spark, store))
    res = sched.tick(datetime(2025, 1, 6, 8, 30, tzinfo=UTC))
    assert [r.state for r in res] == ["COMPLETED"] and res[0].rows == 2
    assert store.read_all("streaming").count() == 2

    # new burst + a REDELIVERED row; next fire drains only the new file
    # (checkpoint) and appends only the genuinely new row (dedup)
    burst("b2.json", [
        {"ticker": "SPY", "timestamp_UTC_ms": t0 + 1, "price": 1.1, "volume": 2},
        {"ticker": "VOO", "timestamp_UTC_ms": t0 + 2, "price": 2.0, "volume": 3},
    ])
    res2 = sched.tick(datetime(2025, 1, 6, 9, 30, tzinfo=UTC))
    assert [r.rows for r in res2] == [1]
    assert store.read_all("streaming").count() == 3
    # idle fire: nothing to drain
    res3 = sched.tick(datetime(2025, 1, 6, 10, 30, tzinfo=UTC))
    assert [r.rows for r in res3] == [0]


def test_scheduled_drain_builds_no_delta_frame(spark, tmp_path, monkeypatch):
    """A scheduled drain of driver-side micro commits never builds a
    commit's delta DataFrame: the run's row count is one count over the
    change feed after the run, not a count job per commit.  Three
    500-row bursts stay under ``STATS_FOLD_EVERY`` commits, so no
    cumulative stats snapshot needs a frame either."""
    import json as _json

    from stock_ops_spark.sources import microcommit
    from stock_ops_spark.sources.commitlog import ManifestStore

    land = tmp_path / "landing"
    land.mkdir()
    t0 = 1755526571000
    trades = [
        {"ticker": ["SPY", "VOO", "QQQ"][i % 3], "timestamp_UTC_ms": t0 + i,
         "price": 100.0 + i / 100.0, "volume": 1 + i % 7}
        for i in range(1500)
    ]
    # bursts overlap by 20 redelivered rows: post-dedup appends are 1480
    for b, lo in enumerate((0, 480, 1000)):
        with open(land / f"b{b}.json", "w") as f:
            for r in trades[lo:lo + 500]:
                f.write(_json.dumps(r) + "\n")
    assert ManifestStore.STATS_FOLD_EVERY > 3

    api, _ = _mk_ops(tmp_path)
    ops = DeploymentOps(api, provider="EODHD-mock", mode="drain")
    cfg = {"deployment_name": "drain-hourly", "deployment_id": None,
           "path": str(land), "checkpoint": str(tmp_path / "ckpt")}
    ops.create_deployment(cfg)
    cfg["schedules"] = [build_schedule(
        timezone="UTC", freq="HOURLY",
        dtstart_local=datetime(2025, 1, 6, 8, 0))]
    ops.schedule_deployment(cfg)

    builds = []
    frame = microcommit.Delta.df.fget

    def counting(self):
        if callable(self._df):
            builds.append(self.n)
        return frame(self)

    monkeypatch.setattr(microcommit.Delta, "df", property(counting))
    store = ManifestStore(spark, str(tmp_path / "store"))
    sched = SchedulerService(api, spark_runner(spark, store))
    res = sched.tick(datetime(2025, 1, 6, 8, 30, tzinfo=UTC))
    assert [r.state for r in res] == ["COMPLETED"]
    assert store.version("streaming") >= 3
    assert builds == []
    assert res[0].rows == 1480 == store.read_all("streaming").count()
