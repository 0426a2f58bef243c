"""Deployment scheduling: the reference's orchestration surface rebuilt
engine-side (VERDICT r10 "What's missing" #2).

The reference drives recurring ingestion through a Prefect server: the UI
builds an RRULE schedule (``datapipe_ui/ui_backend.py:89-197``), attaches
it to a deployment whose parameters are one controller command
(``ui_backend.py:199-237``), and Prefect expands the rule and fires
``controller_driver_flow`` per occurrence; lifecycle is pause / resume /
delete + status polling (``datapipe_ui/api_backend.py:48-163``,
``datapipe_ui/utils.py:216-253``).  Here the same surface is a thin,
server-free shim over the engine's own primitives:

- :func:`build_schedule` — the reference's RRULE constructor, same
  validation, same emission rules, same payload shape.
- :func:`parse_schedule` / :func:`occurrences` — an RFC-5545 subset
  expander (stdlib only) covering every field ``build_schedule`` can
  emit: FREQ MINUTELY..YEARLY, INTERVAL, BYDAY, BYMONTH, BYMONTHDAY,
  BYSETPOS, BYHOUR/BYMINUTE/BYSECOND, UNTIL, tz-aware DTSTART.
- :func:`fire_times_df` — the distributed twin: fire-time expansion for
  a whole FLEET of schedules as one declarative Spark plan
  (sequence + explode + filters; scales to millions of deployments,
  which Prefect's per-schedule Python loop cannot).
- :class:`LocalDeploymentAPI` — the ``ApiLike`` wire surface backed by a
  put-if-absent event log (``sources/commitlog.ManifestLog``) instead of
  a Prefect server: every lifecycle action is one numbered commit, state
  folds from the log, concurrent writers CAS-retry.
- :class:`DeploymentOps` — the reference ``DeploymentService`` method
  surface (create / build_command / trigger_flow / schedule / pause /
  resume / delete / status bundle) with identical command shapes.
- :class:`SchedulerService` — the Prefect stand-in: ``tick(now)``
  expands each live deployment's active schedules over
  (watermark, now], records the due runs as PENDING in ONE commit
  (crash-safe: a crash mid-dispatch re-dispatches only the runs with no
  terminal state — at-least-once, made effectively-once downstream by
  the store's dedup writer), dispatches each through
  ``sources/services.run_command``, and records terminal states.

DST posture: wall-clock semantics throughout (the reference pins
DTSTART as local wall time with TZID for exactly this reason).  A local
time erased by spring-forward resolves to the first instant after the
gap — identical in PEP 495 (fold=0), java.time, and ICU, so the driver
expander, the Spark plan, and the DuckDB oracle agree on every instant.
"""

from __future__ import annotations

import calendar
import itertools
import os
import uuid
from dataclasses import dataclass
from datetime import date, datetime, time as dtime, timedelta
from typing import Any, Callable, Iterable, Iterator, Optional
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.sources.commitlog import CommitConflict, ManifestLog

__all__ = [
    "build_schedule",
    "parse_schedule",
    "occurrences",
    "fire_times_df",
    "summarize_schedule_state",
    "normalize_deployment_status",
    "DeploymentNotFound",
    "LocalDeploymentAPI",
    "DeploymentOps",
    "SchedulerService",
    "backfill_batcher",
    "spark_runner",
]

_VALID_FREQ = ("MINUTELY", "HOURLY", "DAILY", "WEEKLY", "MONTHLY", "YEARLY")
_WEEKDAYS = ("MO", "TU", "WE", "TH", "FR", "SA", "SU")  # Monday=0 .. Sunday=6
_WD_NUM = {d: i for i, d in enumerate(_WEEKDAYS)}


# ---------------------------------------------------------------------------
# RRULE construction (reference ui_backend.py:89-197, same semantics)
# ---------------------------------------------------------------------------


def build_schedule(
    *,
    timezone: str,
    freq: str,
    dtstart_local: datetime,
    interval: int = 1,
    byweekday: Optional[Iterable[str]] = None,
    bymonth: Optional[Iterable[int]] = None,
    bymonthday: Optional[Iterable[int]] = None,
    bysetpos: Optional[Iterable[int]] = None,
    until_local: Optional[datetime | date] = None,
    byhour: Optional[int] = None,
    byminute: Optional[int] = None,
    bysecond: Optional[int] = None,
    active: bool = True,
) -> dict:
    """Construct one schedule payload ``{"active": bool, "schedule":
    {"rrule": "DTSTART;TZID=..\\nRRULE:..", "timezone": ..}}``.

    Validation and emission rules follow the reference exactly
    (ui_backend.py:106-197): FREQ whitelist; INTERVAL > 0; BYDAY token
    whitelist; BYMONTH/BYMONTHDAY/BYSETPOS range checks; BYHOUR/MINUTE/
    SECOND defaulted from DTSTART and emitted only for the frequencies
    they refine; UNTIL localized then appended as UTC ``Z``; DTSTART
    kept as local wall time with TZID (DST-stable)."""
    if freq not in _VALID_FREQ:
        raise ValueError(f"Invalid FREQ: {freq}")
    if interval <= 0:
        raise ValueError("INTERVAL must be a positive integer")

    tz = ZoneInfo(timezone)
    if dtstart_local.tzinfo is None:
        dtstart_aware = dtstart_local.replace(tzinfo=tz)
    else:
        dtstart_aware = dtstart_local.astimezone(tz)

    h = dtstart_aware.hour if byhour is None else int(byhour)
    m = dtstart_aware.minute if byminute is None else int(byminute)
    s = dtstart_aware.second if bysecond is None else int(bysecond)

    parts = [f"FREQ={freq}", f"INTERVAL={interval}"]

    if byweekday:
        wd = [w.strip().upper() for w in byweekday]
        if not set(wd).issubset(set(_WEEKDAYS)):
            raise ValueError(f"Invalid BYDAY tokens: {byweekday}")
        parts.append(f"BYDAY={','.join(wd)}")

    def _join_ints(name: str, values: Optional[Iterable[int]], lo: int, hi: int):
        if values is None:
            return
        vals = list(values)
        for v in vals:
            if v < lo or v > hi:
                raise ValueError(f"{name} value {v} out of range [{lo},{hi}]")
        parts.append(f"{name}=" + ",".join(str(v) for v in vals))

    _join_ints("BYMONTH", bymonth, 1, 12)
    _join_ints("BYMONTHDAY", bymonthday, -31, 31)
    _join_ints("BYSETPOS", bysetpos, -366, 366)

    if freq in {"DAILY", "WEEKLY", "MONTHLY", "YEARLY"}:
        parts.append(f"BYHOUR={h}")
        parts.append(f"BYMINUTE={m}")
        parts.append(f"BYSECOND={s}")
    elif freq == "HOURLY":
        parts.append(f"BYMINUTE={m}")
        parts.append(f"BYSECOND={s}")
    elif freq == "MINUTELY":
        parts.append(f"BYSECOND={s}")

    if until_local is not None:
        if isinstance(until_local, date) and not isinstance(until_local, datetime):
            until_dt = datetime.combine(until_local, dtime(23, 59, 59))
        else:
            until_dt = until_local
        if until_dt.tzinfo is None:
            until_localized = until_dt.replace(tzinfo=tz)
        else:
            until_localized = until_dt.astimezone(tz)
        if until_localized <= dtstart_aware:
            raise ValueError("UNTIL must be after DTSTART in local exchange time")
        until_utc = until_localized.astimezone(ZoneInfo("UTC"))
        parts.append("UNTIL=" + until_utc.strftime("%Y%m%dT%H%M%SZ"))

    rrule_only = ";".join(parts)
    dtstart_line = f"DTSTART;TZID={timezone}:" + dtstart_aware.strftime(
        "%Y%m%dT%H%M%S"
    )
    return {
        "active": bool(active),
        "schedule": {
            "rrule": dtstart_line + "\nRRULE:" + rrule_only,
            "timezone": timezone,
        },
    }


# ---------------------------------------------------------------------------
# RRULE parsing + expansion (RFC 5545 subset; stdlib only)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Schedule:
    """One parsed recurrence rule (the fields build_schedule can emit)."""

    timezone: str
    freq: str
    interval: int
    dtstart: datetime  # aware, schedule tz
    byday: Optional[tuple[str, ...]] = None
    bymonth: Optional[tuple[int, ...]] = None
    bymonthday: Optional[tuple[int, ...]] = None
    bysetpos: Optional[tuple[int, ...]] = None
    byhour: Optional[tuple[int, ...]] = None
    byminute: Optional[tuple[int, ...]] = None
    bysecond: Optional[tuple[int, ...]] = None
    until: Optional[datetime] = None  # aware (any tz); inclusive

    @property
    def tz(self) -> ZoneInfo:
        return ZoneInfo(self.timezone)


def parse_schedule(rrule_value: str, timezone: Optional[str] = None) -> Schedule:
    """Parse the two-line ``DTSTART;TZID=..\\nRRULE:..`` payload
    build_schedule emits.  The rule line tolerates a missing ``RRULE:``
    prefix (the reference's old style, utils.py:60-75); DTSTART is
    REQUIRED — a schedule with no anchor has no first occurrence, so a
    rule-only payload raises rather than guessing one."""
    lines = [ln.strip() for ln in rrule_value.strip().splitlines() if ln.strip()]
    dtstart_line = next((ln for ln in lines if ln.startswith("DTSTART")), None)
    rr_line = next((ln for ln in lines if ln.startswith("RRULE")), None)
    rule = (
        rr_line.split("RRULE:", 1)[1]
        if rr_line and "RRULE:" in rr_line
        else (lines[-1] if lines else "")
    )

    tzid = None
    dtstart_naive = None
    if dtstart_line and ":" in dtstart_line:
        lhs, rhs = dtstart_line.split(":", 1)
        if "TZID=" in lhs:
            tzid = lhs.split("TZID=", 1)[1]
        dtstart_naive = datetime.strptime(rhs, "%Y%m%dT%H%M%S")
    tz_name = tzid or timezone or "UTC"
    tz = ZoneInfo(tz_name)
    if dtstart_naive is None:
        raise ValueError("schedule has no DTSTART")
    dtstart = dtstart_naive.replace(tzinfo=tz)

    parts: dict[str, str] = {}
    for chunk in rule.split(";"):
        chunk = chunk.strip()
        if "=" in chunk:
            k, v = chunk.split("=", 1)
            parts[k.upper()] = v

    freq = parts.get("FREQ")
    if freq not in _VALID_FREQ:
        raise ValueError(f"Invalid FREQ: {freq!r}")
    interval = int(parts.get("INTERVAL", "1"))
    if interval <= 0:
        raise ValueError("INTERVAL must be a positive integer")

    def _ints(key: str) -> Optional[tuple[int, ...]]:
        if key not in parts:
            return None
        return tuple(int(t) for t in parts[key].split(",") if t.strip())

    byday = None
    if "BYDAY" in parts:
        toks = tuple(t.strip().upper() for t in parts["BYDAY"].split(",") if t.strip())
        if not set(toks).issubset(set(_WEEKDAYS)):
            raise ValueError(f"Invalid BYDAY tokens: {parts['BYDAY']}")
        byday = toks

    until = None
    if "UNTIL" in parts:
        u = parts["UNTIL"]
        if u.endswith("Z"):
            until = datetime.strptime(u, "%Y%m%dT%H%M%SZ").replace(
                tzinfo=ZoneInfo("UTC")
            )
        else:
            until = datetime.strptime(u, "%Y%m%dT%H%M%S").replace(tzinfo=tz)

    return Schedule(
        timezone=tz_name,
        freq=freq,
        interval=interval,
        dtstart=dtstart,
        byday=byday,
        bymonth=_ints("BYMONTH"),
        bymonthday=_ints("BYMONTHDAY"),
        bysetpos=_ints("BYSETPOS"),
        byhour=_ints("BYHOUR"),
        byminute=_ints("BYMINUTE"),
        bysecond=_ints("BYSECOND"),
        until=until,
    )


def _add_months(y: int, m: int, n: int) -> tuple[int, int]:
    t = (y * 12 + (m - 1)) + n
    return t // 12, t % 12 + 1


def _month_days(
    s: Schedule, y: int, m: int, default_day: int
) -> list[int]:
    """Expand the day-of-month set for one (year, month) per RFC:
    BYMONTHDAY expands (negatives from month end, invalid skipped);
    else BYDAY expands every matching weekday; else DTSTART's day
    (months lacking it are skipped)."""
    last = calendar.monthrange(y, m)[1]
    if s.bymonthday:
        days = []
        for md in s.bymonthday:
            d = md if md > 0 else last + 1 + md
            if 1 <= d <= last:
                days.append(d)
        if s.byday:
            # RFC 5545: with BYMONTHDAY present, BYDAY LIMITS (keeps
            # only matching weekdays) for MONTHLY/YEARLY — dateutil
            # agrees; pinned by the cross-validation test
            want = {_WD_NUM[t] for t in s.byday}
            days = [d for d in days if date(y, m, d).weekday() in want]
        return sorted(set(days))
    if s.byday:
        want = {_WD_NUM[t] for t in s.byday}
        return [d for d in range(1, last + 1) if date(y, m, d).weekday() in want]
    return [default_day] if default_day <= last else []


def _period_candidates(s: Schedule, p: int) -> list[datetime]:
    """Naive-local candidate instants of period ``p`` (0 = the DTSTART
    period), sorted, BEFORE the BYSETPOS cut."""
    d0 = s.dtstart.replace(tzinfo=None)
    hours = list(s.byhour) if s.byhour else [d0.hour]
    minutes = list(s.byminute) if s.byminute else [d0.minute]
    seconds = list(s.bysecond) if s.bysecond else [d0.second]
    times = sorted(
        dtime(h, m, sec)
        for h, m, sec in itertools.product(hours, minutes, seconds)
    )

    def _day_ok(d: date) -> bool:
        if s.bymonth and d.month not in s.bymonth:
            return False
        if s.bymonthday:
            last = calendar.monthrange(d.year, d.month)[1]
            if d.day not in {
                (md if md > 0 else last + 1 + md) for md in s.bymonthday
            }:
                return False
        if s.byday and _WEEKDAYS[d.weekday()] not in s.byday:
            return False
        return True

    out: list[datetime] = []
    if s.freq == "DAILY":
        d = d0.date() + timedelta(days=p * s.interval)
        if _day_ok(d):
            out = [datetime.combine(d, t) for t in times]
    elif s.freq == "WEEKLY":
        week = (
            d0.date()
            - timedelta(days=d0.weekday())
            + timedelta(weeks=p * s.interval)
        )
        wds = (
            sorted(_WD_NUM[t] for t in s.byday) if s.byday else [d0.weekday()]
        )
        for wd in wds:
            d = week + timedelta(days=wd)
            if s.bymonth and d.month not in s.bymonth:
                continue
            out.extend(datetime.combine(d, t) for t in times)
    elif s.freq == "MONTHLY":
        y, m = _add_months(d0.year, d0.month, p * s.interval)
        if s.bymonth and m not in s.bymonth:
            return []
        for d in _month_days(s, y, m, d0.day):
            out.extend(datetime.combine(date(y, m, d), t) for t in times)
    elif s.freq == "YEARLY":
        y = d0.year + p * s.interval
        # RFC 5545: for YEARLY, BYMONTHDAY and BYDAY are EXPANDING rules
        # — without BYMONTH they apply across every month of the year
        # (dateutil.rrule agrees; pinned by the cross-validation test).
        # Only a bare YEARLY defaults to DTSTART's month.
        if s.bymonth:
            months = list(s.bymonth)
        elif s.bymonthday or s.byday:
            months = list(range(1, 13))
        else:
            months = [d0.month]
        for m in sorted(months):
            for d in _month_days(s, y, m, d0.day):
                out.extend(datetime.combine(date(y, m, d), t) for t in times)
    elif s.freq == "HOURLY":
        base = d0 + timedelta(hours=p * s.interval)
        if not _day_ok(base.date()):
            return []
        if s.byhour and base.hour not in s.byhour:
            return []
        out = sorted(
            base.replace(minute=m, second=sec)
            for m, sec in itertools.product(minutes, seconds)
        )
    elif s.freq == "MINUTELY":
        base = d0 + timedelta(minutes=p * s.interval)
        if not _day_ok(base.date()):
            return []
        if s.byhour and base.hour not in s.byhour:
            return []
        if s.byminute and base.minute not in s.byminute:
            return []
        out = sorted(base.replace(second=sec) for sec in seconds)
    out = sorted(set(out))
    if s.bysetpos:
        n = len(out)
        picks = sorted(
            {sp - 1 if sp > 0 else n + sp for sp in s.bysetpos if sp != 0}
        )
        out = [out[i] for i in picks if 0 <= i < n]
    return out


def _period_start(s: Schedule, p: int) -> datetime:
    """Naive-local lower bound of period ``p`` (for window termination)."""
    d0 = s.dtstart.replace(tzinfo=None)
    if s.freq == "DAILY":
        return datetime.combine(d0.date() + timedelta(days=p * s.interval), dtime.min)
    if s.freq == "WEEKLY":
        wk = d0.date() - timedelta(days=d0.weekday()) + timedelta(weeks=p * s.interval)
        return datetime.combine(wk, dtime.min)
    if s.freq == "MONTHLY":
        y, m = _add_months(d0.year, d0.month, p * s.interval)
        return datetime(y, m, 1)
    if s.freq == "YEARLY":
        return datetime(d0.year + p * s.interval, 1, 1)
    if s.freq == "HOURLY":
        return d0 + timedelta(hours=p * s.interval)
    return d0 + timedelta(minutes=p * s.interval)


def occurrences(
    s: Schedule,
    window_end: datetime,
    window_start: Optional[datetime] = None,
    limit: Optional[int] = None,
) -> Iterator[datetime]:
    """Yield the schedule's occurrences as aware datetimes (schedule tz),
    ascending: ``t >= DTSTART``, ``t <= UNTIL`` (inclusive, per RFC),
    instant-in ``(window_start, window_end]`` when bounds are given.

    Iteration is window-bounded (never infinite): periods stop once the
    period start passes both ``window_end`` and ``UNTIL``.  Wall times
    erased by a DST gap resolve to the first instant after the gap
    (PEP 495 fold=0 → same instant java.time and ICU produce)."""
    tz = s.tz
    if window_end.tzinfo is None:
        raise ValueError("window_end must be timezone-aware")
    if window_start is not None and window_start.tzinfo is None:
        raise ValueError("window_start must be timezone-aware")
    hi = window_end
    if s.until is not None and s.until < hi:
        hi = s.until
    # local-wall iteration bound, one period of slack for tz skew
    hi_local = hi.astimezone(tz).replace(tzinfo=None) + timedelta(days=2)
    dt0_naive = s.dtstart.replace(tzinfo=None)
    n_out = 0
    p = 0
    if window_start is not None:
        # fast-forward: without this, every tick of a long-lived
        # schedule re-iterates all periods since DTSTART (a year-old
        # MINUTELY rule is ~500k empty iterations per tick).  One period
        # of slack below the window start keeps boundary occurrences.
        lo_local = window_start.astimezone(tz).replace(tzinfo=None) - timedelta(
            days=2
        )
        delta = lo_local - _period_start(s, 0)
        if s.freq == "DAILY":
            p = int(delta.days // s.interval)
        elif s.freq == "WEEKLY":
            p = int(delta.days // (7 * s.interval))
        elif s.freq == "HOURLY":
            p = int(delta.total_seconds() // (3600 * s.interval))
        elif s.freq == "MINUTELY":
            p = int(delta.total_seconds() // (60 * s.interval))
        elif s.freq == "MONTHLY":
            months = (lo_local.year - dt0_naive.year) * 12 + (
                lo_local.month - dt0_naive.month
            )
            p = (months - 1) // s.interval
        else:  # YEARLY
            p = (lo_local.year - dt0_naive.year - 1) // s.interval
        p = max(0, p - 1)
    while _period_start(s, p) <= hi_local:
        for cand in _period_candidates(s, p):
            if cand < dt0_naive:
                continue
            t = cand.replace(tzinfo=tz)
            if s.until is not None and t > s.until:
                continue
            if t > window_end:
                continue
            if window_start is not None and t <= window_start:
                continue
            yield t
            n_out += 1
            if limit is not None and n_out >= limit:
                return
        p += 1


# ---------------------------------------------------------------------------
# Distributed fleet expansion (Spark-first twin of `occurrences`)
# ---------------------------------------------------------------------------

_FIRE_SCHEMA = (
    "deployment_id string, schedule_id int, freq string, interval int, "
    "byday array<string>, bymonth array<int>, bymonthday array<int>, "
    "byhour int, byminute int, bysecond int, tz string, "
    "dtstart string, until_utc string"
)


def fire_times_df(
    spark: SparkSession,
    schedules: DataFrame,
    window_start_utc: str,
    window_end_utc: str,
) -> DataFrame:
    """Expand a FLEET of schedules into (deployment_id, schedule_id,
    fire_utc) with one declarative plan — the distributed twin of
    :func:`occurrences` across all SIX frequencies on their fleet
    shapes: DAILY / WEEKLY (BYDAY filter / expansion), MONTHLY / YEARLY
    (single BYMONTHDAY or DTSTART's day; YEARLY BYMONTH set or the RFC
    all-months bare-BYMONTHDAY expansion), HOURLY / MINUTELY
    (wall-clock strides from DTSTART — a DST transition never shifts
    the local pattern; BYDAY/BYMONTH/BYMONTHDAY/BYHOUR/BYMINUTE as
    limits).  Shapes outside the subset (BYDAY expansion under
    MONTHLY/YEARLY, multi-valued MONTHLY/YEARLY BYMONTHDAY) raise
    rather than silently narrow.

    Input columns (see ``_FIRE_SCHEMA``): ``dtstart`` is local wall
    ``yyyy-MM-dd HH:mm:ss`` in ``tz``; ``until_utc`` nullable UTC
    instant string.  Window bounds are UTC instants; fires satisfy
    ``window_start <= fire < window_end`` and ``fire_local >= dtstart``
    and ``fire <= until``.

    Scale shape: candidates explode to |schedules| × window-days tiny
    rows for day-grain rules (a 1M-deployment fleet over a 1-year
    window is ~365M flat rows) and |schedules| × window-days ×
    fires-per-day for sub-daily rules (the explode is stride-ALIGNED,
    so only actual fire minutes/hours are generated, not all 1440/24) —
    fully parallel, no shuffle until the caller aggregates.  Fires
    round-trip through ``to_utc_timestamp`` (session tz is pinned UTC
    engine-wide), so DST instants match the driver expander exactly."""
    s = schedules
    # reject anything outside the DF path's subset EXPLICITLY — a rule
    # silently dropped or silently narrowed would diverge from the
    # driver expander without an error.  NULL freq must be called out
    # (NULL fails isin() AND its negation, vanishing from both).
    bad = s.where(
        F.col("freq").isNull()
        | ~F.col("freq").isin(
            "DAILY", "WEEKLY", "MONTHLY", "YEARLY", "HOURLY", "MINUTELY"
        )
        | (
            F.col("freq").isin("MONTHLY", "YEARLY")
            & (
                F.col("byday").isNotNull()
                | (
                    F.col("bymonthday").isNotNull()
                    & (F.size("bymonthday") != 1)
                )
            )
        )
    )
    if bad.limit(1).count() > 0:  # schedules is a dim table; one tiny job
        raise ValueError(
            "fire_times_df covers all six frequencies on their fleet "
            "shapes (MONTHLY/YEARLY with a single BYMONTHDAY or "
            "DTSTART's day, no BYDAY expansion); use occurrences() for "
            "other rules"
        )
    # spread candidate generation across the cluster: the schedules dim
    # usually arrives in a handful of file partitions, and Generate
    # (explode) inherits them — a 1.5M-schedule fleet would fan 100M+
    # candidate rows out of ~6 tasks.  One Exchange of |fleet| tiny rows
    # buys full-width explode (measured sf10, 112M fires: 186.9 s -> 15.0 s).
    s = s.repartition(spark.sparkContext.defaultParallelism)
    s = (
        s.withColumn("dt0", F.to_timestamp("dtstart"))
        .withColumn("d0", F.to_date("dt0"))
        .withColumn("win_lo", F.lit(window_start_utc).cast("timestamp"))
        .withColumn("win_hi", F.lit(window_end_utc).cast("timestamp"))
        .withColumn("lo_local", F.from_utc_timestamp("win_lo", F.col("tz")))
        .withColumn("hi_local", F.from_utc_timestamp("win_hi", F.col("tz")))
        .withColumn("hh", F.coalesce("byhour", F.hour("dt0")))
        .withColumn("mm", F.coalesce("byminute", F.minute("dt0")))
        .withColumn("ss", F.coalesce("bysecond", F.second("dt0")))
    )

    def _finish(cand: DataFrame) -> DataFrame:
        # sub-daily branches carry their own hour/minute (fh/fm);
        # day-grain branches fall through to the rule's fixed time parts
        for c in ("fh", "fm"):
            if c not in cand.columns:
                cand = cand.withColumn(c, F.lit(None).cast("int"))
        out = (
            cand.withColumn(
                "fire_local",
                F.expr("make_timestamp(year(fire_date), month(fire_date), "
                       "day(fire_date), coalesce(fh, hh), "
                       "coalesce(fm, mm), ss)"),
            )
            .withColumn("fire_utc", F.to_utc_timestamp("fire_local", F.col("tz")))
            .where(F.col("fire_local") >= F.col("dt0"))
            .where(
                (F.col("fire_utc") >= F.col("win_lo"))
                & (F.col("fire_utc") < F.col("win_hi"))
            )
            .where(
                F.col("until_utc").isNull()
                | (F.col("fire_utc") <= F.col("until_utc").cast("timestamp"))
            )
        )
        return out.select("deployment_id", "schedule_id", "fire_utc")

    def _month_filter(days: DataFrame) -> DataFrame:
        return days.where(
            F.col("bymonth").isNull()
            | F.array_contains("bymonth", F.month("fire_date"))
        )

    def _monthday_filter(days: DataFrame) -> DataFrame:
        # BYMONTHDAY limits DAILY and the sub-daily branches (RFC 5545
        # forbids it with WEEKLY; the driver expander ignores it there —
        # parity pinned in tests)
        return days.where(
            F.col("bymonthday").isNull()
            | F.array_contains("bymonthday", F.dayofmonth("fire_date"))
            | F.array_contains(
                "bymonthday",
                F.dayofmonth("fire_date")
                - F.dayofmonth(F.last_day("fire_date"))
                - 1,
            )
        )

    # day-grain branches: candidates bounded to the window (±1 day slack)
    lo_d = F.greatest(F.col("d0"), F.date_sub(F.to_date("lo_local"), 1))
    hi_d = F.date_add(F.to_date("hi_local"), 1)
    daygrain = (
        s.where(F.col("freq").isin("DAILY", "WEEKLY"))
        .withColumn("lo_d", lo_d)
        .withColumn("hi_d", hi_d)
        .where(F.col("lo_d") <= F.col("hi_d"))
        .withColumn(
            "fire_date", F.explode(F.expr("sequence(lo_d, hi_d, interval 1 day)"))
        )
    )
    daily = (
        daygrain.where(F.col("freq") == "DAILY")
        .where(F.datediff("fire_date", "d0") % F.col("interval") == 0)
        .where(
            F.col("byday").isNull()
            | F.array_contains(
                "byday",
                F.element_at(F.lit(list(_WEEKDAYS)), F.weekday("fire_date") + 1),
            )
        )
    )
    weekly = (
        daygrain.where(F.col("freq") == "WEEKLY")
        .withColumn("anchor", F.date_sub("d0", F.weekday("d0")))
        .where(
            F.floor(F.datediff("fire_date", "anchor") / 7) % F.col("interval")
            == 0
        )
        .where(
            (
                F.col("byday").isNull()
                & (F.weekday("fire_date") == F.weekday("d0"))
            )
            | (
                F.col("byday").isNotNull()
                & F.array_contains(
                    "byday",
                    F.element_at(
                        F.lit(list(_WEEKDAYS)), F.weekday("fire_date") + 1
                    ),
                )
            )
        )
    )
    def _month_spine(frame: DataFrame) -> DataFrame:
        """Shared MONTHLY/YEARLY month spine: window-clamped (the stride
        filters anchor at trunc(d0,'MM') regardless, so starting near
        the window keeps results identical while a years-old DTSTART
        stops costing O(schedule age) months per call), guarded against
        Spark's start>stop `sequence` error."""
        return (
            frame.where(F.trunc("d0", "MM") <= F.expr(
                "date_add(last_day(to_date(hi_local)), 1)"))
            .withColumn(
                "mon0",
                F.greatest(
                    F.trunc("d0", "MM"),
                    F.expr("trunc(add_months(to_date(lo_local), -1), 'MM')"),
                ),
            )
            .withColumn(
                "mon",
                F.explode(
                    F.expr(
                        "sequence(mon0, "
                        "date_add(last_day(to_date(hi_local)), 1), "
                        "interval 1 month)"
                    )
                ),
            )
        )

    def _dom_fire(frame: DataFrame) -> DataFrame:
        """Shared MONTHLY/YEARLY day-of-month resolution: the single
        BYMONTHDAY (positive, or negative from month end) or DTSTART's
        day, with invalid days skipped (the day-31 / leap-day rule)."""
        return (
            frame.withColumn(
                "dom",
                F.when(
                    F.col("bymonthday").isNull(), F.dayofmonth("d0")
                ).otherwise(
                    F.when(
                        F.element_at("bymonthday", 1) > 0,
                        F.element_at("bymonthday", 1),
                    ).otherwise(
                        F.dayofmonth(F.last_day("mon"))
                        + 1
                        + F.element_at("bymonthday", 1)
                    )
                ),
            )
            .where(
                (F.col("dom") >= 1)
                & (F.col("dom") <= F.dayofmonth(F.last_day("mon")))
            )
            .withColumn(
                "fire_date",
                F.expr("make_date(year(mon), month(mon), dom)"),
            )
        )

    monthly = _dom_fire(
        _month_spine(s.where(F.col("freq") == "MONTHLY")).where(
            F.months_between("mon", F.trunc("d0", "MM")).cast("int")
            % F.col("interval")
            == 0
        )
    ).where(
        F.col("bymonth").isNull()
        | F.array_contains("bymonth", F.month("fire_date"))
    )
    yearly = _dom_fire(
        _month_spine(s.where(F.col("freq") == "YEARLY"))
        .where((F.year("mon") - F.year("d0")) % F.col("interval") == 0)
        # month set: BYMONTH expands; bare BYMONTHDAY expands across ALL
        # months (RFC — the dateutil-pinned driver semantics); a bare
        # YEARLY fires in DTSTART's month only
        .where(
            F.when(
                F.col("bymonth").isNotNull(),
                F.array_contains("bymonth", F.month("mon")),
            ).otherwise(
                F.col("bymonthday").isNotNull()
                | (F.month("mon") == F.month("d0"))
            )
        )
    )

    # sub-daily branches: day spine × a stride-ALIGNED time-of-day explode
    # (only actual fire hours/minutes are generated — pmod picks each
    # day's first aligned slot) with the stride taken in WALL-CLOCK units
    # from DTSTART (the driver expander's semantics — dateutil-pinned),
    # so a DST transition never shifts the local fire pattern.
    # BYDAY/BYMONTH/BYMONTHDAY act as LIMITS here.
    subdaily = (
        s.where(F.col("freq").isin("HOURLY", "MINUTELY"))
        .withColumn("lo_d", lo_d)
        .withColumn("hi_d", hi_d)
        .where(F.col("lo_d") <= F.col("hi_d"))
        .withColumn(
            "fire_date", F.explode(F.expr("sequence(lo_d, hi_d, interval 1 day)"))
        )
        .withColumn("daydiff", F.datediff("fire_date", "d0"))
        .where(
            F.col("byday").isNull()
            | F.array_contains(
                "byday",
                F.element_at(F.lit(list(_WEEKDAYS)), F.weekday("fire_date") + 1),
            )
        )
    )
    hourly = (
        subdaily.where(F.col("freq") == "HOURLY")
        .withColumn(
            "first_h",
            F.expr("pmod(hour(dt0) - daydiff * 24, interval)").cast("int"),
        )
        .where(F.col("first_h") <= 23)
        .withColumn(
            "fh", F.explode(F.expr("sequence(first_h, 23, interval)"))
        )
        .withColumn("fh", F.col("fh").cast("int"))
        .where(F.col("daydiff") * 24 + F.col("fh") - F.hour("dt0") >= 0)
        # BYHOUR (when given) LIMITS an HOURLY rule rather than setting
        # the fire hour; the exploded hour must match it
        .where(F.col("byhour").isNull() | (F.col("fh") == F.col("byhour")))
        .withColumn("fm", F.lit(None).cast("int"))
    )
    minutely = (
        subdaily.where(F.col("freq") == "MINUTELY")
        .withColumn(
            "first_m",
            F.expr(
                "pmod(hour(dt0) * 60 + minute(dt0) - daydiff * 1440, interval)"
            ).cast("int"),
        )
        .where(F.col("first_m") <= 1439)
        .withColumn(
            "mod_", F.explode(F.expr("sequence(first_m, 1439, interval)"))
        )
        .withColumn("fh", (F.col("mod_") / 60).cast("int"))
        .withColumn("fm", (F.col("mod_") % 60).cast("int"))
        .where(
            F.col("daydiff") * 1440
            + F.col("mod_")
            - (F.hour("dt0") * 60 + F.minute("dt0"))
            >= 0
        )
        .where(F.col("byhour").isNull() | (F.col("fh") == F.col("byhour")))
        .where(F.col("byminute").isNull() | (F.col("fm") == F.col("byminute")))
    )

    return (
        _finish(_monthday_filter(_month_filter(daily)))
        .unionByName(_finish(_month_filter(weekly)))
        .unionByName(_finish(monthly))
        .unionByName(_finish(yearly))
        .unionByName(_finish(_monthday_filter(_month_filter(hourly))))
        .unionByName(_finish(_monthday_filter(_month_filter(minutely))))
    )


# ---------------------------------------------------------------------------
# Schedule/state summaries (reference utils.py:216-253, same outputs)
# ---------------------------------------------------------------------------


def normalize_deployment_status(dep_resp: Any) -> str:
    """Reference utils.norm_dep_status_value (utils.py:216-233)."""
    if isinstance(dep_resp, dict):
        s = dep_resp.get("status")
        if isinstance(s, dict):
            inner = s.get("status")
            return inner if isinstance(inner, str) else "NOT_READY"
        if isinstance(s, str):
            return s
        return "NOT_READY"
    if isinstance(dep_resp, str):
        return dep_resp
    return "NOT_READY"


def summarize_schedule_state(
    dep: dict[str, Any],
) -> tuple[Optional[bool], Optional[bool], str]:
    """Reference utils.derive_schedule_state_from_deployment
    (utils.py:235-253): (schedule_active, schedule_paused, mode) with
    mode ∈ ACTIVE | PAUSED | PRIME."""
    if not isinstance(dep, dict):
        return None, None, "PRIME"
    paused = bool(dep.get("paused"))
    schedules = dep.get("schedules") or []
    any_active = any(
        bool(x.get("active")) for x in schedules if isinstance(x, dict)
    )
    if paused:
        return False, True, "PAUSED"
    if any_active:
        return True, False, "ACTIVE"
    return (False if schedules else None), False, "PRIME"


# ---------------------------------------------------------------------------
# Deployment lifecycle: event-sourced over the engine's commit log
# ---------------------------------------------------------------------------


class DeploymentNotFound(KeyError):
    """The 404 analog (reference ui_backend.py:261-274 maps it to the
    DELETED status bundle)."""


class LocalDeploymentAPI:
    """The reference's ``ApiLike`` wire surface (api_backend.py:12-163)
    backed by a put-if-absent event log instead of a Prefect server.

    Every mutating call appends ONE numbered JSON commit via
    ``ManifestLog.try_commit`` (POSIX compare-and-swap — concurrent
    writers retry on ``CommitConflict``); reads fold the log.  IDs are
    deterministic (``dep-NNNNNN`` / ``run-NNNNNN`` from the commit
    number), so replaying a scenario replays its IDs — the property the
    oracle queries and crash tests pin."""

    def __init__(self, root: str, flow_name: str = "controller-driver-flow"):
        self.log = ManifestLog(os.path.join(root, "_deployments_log"))
        self.flow_name = flow_name

    # -- event plumbing ---------------------------------------------------
    def _commit(self, event: dict) -> int:
        for _ in range(64):
            v = self.log.version() + 1
            try:
                self.log.try_commit(v, {"event": event})
                return v
            except CommitConflict:
                continue
        raise CommitConflict("deployment log contention")

    def _fold(self, at_version: Optional[int] = None) -> dict:
        """Fold the event log.  Deployment and run ids are DERIVED from
        the commit number that created them (``dep-NNNNNN`` /
        ``run-NNNNNN-i``) — an append-only log cannot rewrite the
        creating event with its own id, so the id is the number."""
        deps: dict[str, dict] = {}
        runs: dict[str, dict] = {}
        marks: dict[str, str] = {}
        seen_keys: set[str] = set()
        for c in self.log.commits(upto=at_version):
            v = c["version"]
            e = c.get("event") or {}
            a = e.get("action")
            if a == "checkpoint":
                # self-contained snapshot (see compact()): RESETS the
                # fold, so the state is identical whether or not the
                # pre-checkpoint commits still exist on disk — a crash
                # between the rewrite and the deletion is harmless
                snap = e["state"]
                deps = dict(snap["deployments"])
                runs = dict(snap["flow_runs"])
                marks = dict(snap["watermarks"])
                seen_keys = set(snap["done_keys"])
                seen_keys.update(
                    r["key"] for r in runs.values() if r.get("key")
                )
            elif a == "register_deployment":
                dep_id = f"dep-{v:06d}"
                deps[dep_id] = {
                    "id": dep_id,
                    "name": e["name"],
                    "status": {"status": "READY"},
                    "paused": False,
                    "schedules": [],
                }
            elif a == "add_schedules":
                d = deps.get(e["dep_id"])
                if d is not None:
                    d["schedules"].extend(e["schedules"])
            elif a == "pause":
                d = deps.get(e["dep_id"])
                if d is not None:
                    d["paused"] = True
            elif a == "resume":
                d = deps.get(e["dep_id"])
                if d is not None:
                    d["paused"] = False
            elif a == "delete":
                deps.pop(e["dep_id"], None)
            elif a == "flow_runs":
                for i, r in enumerate(e["runs"]):
                    # racing ticks can both commit the same due fire; the
                    # fold keeps the FIRST run per key, so concurrent
                    # schedulers converge on one run record (dispatch may
                    # still race — at-least-once, absorbed by the store's
                    # dedup writer like every other redelivery)
                    k = r.get("key")
                    if k and k in seen_keys:
                        continue
                    if k:
                        seen_keys.add(k)
                    rid = f"run-{v:06d}-{i}"
                    runs[rid] = dict(r, id=rid, state={"type": "PENDING"})
            elif a == "flow_run_state":
                r = runs.get(e["run_id"])
                if r is not None:
                    r["state"] = {"type": e["state"]}
                    if "rows" in e:
                        r["rows"] = e["rows"]
            elif a == "watermarks":
                marks.update(e["marks"])
        return {"deployments": deps, "flow_runs": runs, "watermarks": marks}

    def compact(
        self, retain_last: int = 64, keep_terminal_runs: int = 200
    ) -> dict:
        """Checkpoint-truncate the event log through
        ``ManifestLog.checkpoint`` — the store's vacuum
        (sources/commitlog.py) applied to the deployment log.  A
        long-lived scheduler appends one watermarks commit per tick plus
        two state commits per run, and every fold re-reads the whole
        log: O(commits) per tick, quadratic over the deployment's
        lifetime.

        Commit H = current - retain_last + 1 becomes a self-contained
        ``checkpoint`` event: deployments, watermarks, non-terminal runs
        IN FULL, the newest ``keep_terminal_runs`` terminal runs, and
        EVERY terminal run key — the at-least-once dedup memory must
        survive truncation or a re-tick would double-run old fires.  The
        commits below H are then deleted, stopping at the first failed
        delete so the log never has a gap; a crash in between leaves a
        fold-identical log because the checkpoint RESETS the fold.

        Truncation trades away old terminal run records (the store is
        the system of record for the data they ingested) — never keys,
        never non-terminal runs."""
        cur = self.log.version()
        horizon = cur - retain_last + 1
        if cur == 0 or horizon <= self.log.min_version():
            return {"checkpointed": 0, "commits_dropped": 0}
        st = self._fold(at_version=horizon)
        terminal = {
            rid: r
            for rid, r in st["flow_runs"].items()
            if r["state"]["type"] in ("COMPLETED", "FAILED")
        }
        def _run_order(rid: str) -> tuple[int, int]:
            # 'run-{version:06d}-{i}': numeric order — a lexical sort
            # mis-orders sub-index 10 vs 2 within one large catch-up
            # commit (and %06d past 999999)
            _, v, i = rid.split("-")
            return int(v), int(i)

        keep_ids = (
            sorted(terminal, key=_run_order)[-keep_terminal_runs:]
            if keep_terminal_runs > 0
            else []
        )
        runs_kept = {
            rid: r
            for rid, r in st["flow_runs"].items()
            if rid not in terminal or rid in keep_ids
        }
        done_keys = sorted(
            r["key"] for r in terminal.values() if r.get("key")
        )
        dropped = self.log.checkpoint(horizon, {
            "event": {
                "action": "checkpoint",
                "state": {
                    "deployments": st["deployments"],
                    "flow_runs": runs_kept,
                    "watermarks": st["watermarks"],
                    "done_keys": done_keys,
                },
            },
        })
        return {"checkpointed": horizon, "commits_dropped": dropped}

    # -- ApiLike surface --------------------------------------------------
    def register_deployment(self, deployment_name: str) -> dict:
        v = self._commit(
            {"action": "register_deployment", "name": deployment_name}
        )
        return {"id": f"dep-{v:06d}", "name": deployment_name}

    def check_deployment_status(self, deployment_id: str) -> dict:
        d = self._fold()["deployments"].get(deployment_id)
        if d is None:
            raise DeploymentNotFound(deployment_id)
        return d

    def create_deployment_schedules(
        self, deployment_id: str, payload: list[dict]
    ) -> list[dict]:
        if not isinstance(payload, list) or not payload:
            raise ValueError("No schedules to create.")
        for p in payload:
            if not isinstance(p, dict) or "schedule" not in p:
                raise ValueError(
                    "Invalid schedule object; expected "
                    "{'active': bool, 'schedule': {...}}"
                )
            # validate the rule parses before committing it
            parse_schedule(
                p["schedule"]["rrule"], p["schedule"].get("timezone")
            )
        self.check_deployment_status(deployment_id)
        self._commit(
            {
                "action": "add_schedules",
                "dep_id": deployment_id,
                "schedules": payload,
            }
        )
        return payload

    def pause_deployment_schedule(self, deployment_id: str) -> None:
        self.check_deployment_status(deployment_id)
        self._commit({"action": "pause", "dep_id": deployment_id})

    def resume_deployment_schedule(self, deployment_id: str) -> None:
        self.check_deployment_status(deployment_id)
        self._commit({"action": "resume", "dep_id": deployment_id})

    def delete_deployment(self, deployment_id: str) -> None:
        self.check_deployment_status(deployment_id)
        self._commit({"action": "delete", "dep_id": deployment_id})

    def run_deployed_flow(
        self, deployment_id: str, provider: str, command_type: str, command: dict
    ) -> dict:
        """Ad-hoc run (the UI's 'Run now'): records one PENDING flow run."""
        d = self.check_deployment_status(deployment_id)
        v = self._commit(
            {
                "action": "flow_runs",
                "runs": [
                    {
                        "id": "PENDING",
                        "name": f"{d['name']}/adhoc",
                        "dep_id": deployment_id,
                        "key": f"adhoc-{uuid.uuid4().hex[:8]}",
                        "parameters": {
                            "command": command,
                            "command_type": command_type,
                            "provider": provider,
                        },
                    }
                ],
            }
        )
        run_id = f"run-{v:06d}-0"
        return {"id": run_id, "name": f"{d['name']}/adhoc", "state_type": "PENDING"}

    def check_flow_run_status(self, flow_run_id: str) -> dict:
        r = self._fold()["flow_runs"].get(flow_run_id)
        if r is None:
            raise DeploymentNotFound(flow_run_id)
        return r


# ---------------------------------------------------------------------------
# DeploymentOps — the reference DeploymentService method surface
# ---------------------------------------------------------------------------


class DeploymentOps:
    """Reference ``DeploymentService`` (ui_backend.py:11-304) on the
    local API: identical command shapes and method semantics, minus the
    requests/Prefect transport."""

    def __init__(
        self, api: LocalDeploymentAPI, provider: str = "EODHD-mock", mode: str = "hist"
    ):
        self.api = api
        self.provider = provider
        self.mode = mode

    def create_deployment(self, cfg: dict[str, Any]) -> bool:
        if cfg.get("deployment_id") is None:
            resp = self.api.register_deployment(cfg["deployment_name"])
            cfg["deployment_id"] = resp["id"]
        dep = self.api.check_deployment_status(cfg["deployment_id"])
        s = dep.get("status")
        status_str = s.get("status") if isinstance(s, dict) else s
        return status_str == "READY"

    def build_command(self, cfg: dict[str, Any]) -> dict[str, Any]:
        if self.mode == "hist":
            return {
                "ticker": cfg["ticker"],
                "exchange": cfg["exchange"],
                "interval": cfg["interval"],
                "start": cfg["start"],
                "end": cfg["end"],
            }
        if self.mode == "stream":
            return {
                "tickers": cfg["ticker"],
                "exchange": cfg["exchange"],
                "stream_type": cfg["stream_type"],
                "duration": float(cfg["duration"]) * 3600,
            }
        if self.mode == "maintain":
            # engine extension: scheduled store maintenance (see
            # services.run_command's maintain_store branch); retain's
            # keep_from passes through verbatim
            cmd = {"op": cfg["op"], "mode": cfg["store_mode"]}
            if "keep_from" in cfg:
                cmd["keep_from"] = cfg["keep_from"]
            return cmd
        if self.mode == "drain":
            # engine extension: cron-style streaming — each fire drains
            # the landing zone availableNow under one persistent
            # checkpoint (services.run_command's drain_stream branch)
            cmd = {"path": cfg["path"], "checkpoint": cfg["checkpoint"]}
            for k in ("store_mode", "max_files_per_trigger"):
                if k in cfg:
                    cmd["mode" if k == "store_mode" else k] = cfg[k]
            return cmd
        raise ValueError(f"Unsupported mode: {self.mode}")

    def get_command_type(self) -> str:
        if self.mode == "hist":
            return "fetch_historical"
        if self.mode == "stream":
            return "start_stream"
        if self.mode == "maintain":
            return "maintain_store"
        if self.mode == "drain":
            return "drain_stream"
        raise ValueError(f"Unsupported mode: {self.mode!r}")

    def trigger_flow(self, cfg: dict[str, Any]) -> tuple[str, str]:
        command = self.build_command(cfg)
        resp = self.api.run_deployed_flow(
            cfg["deployment_id"], self.provider, self.get_command_type(), command
        )
        return resp["id"], resp["name"]

    @staticmethod
    def normalize_state_type(resp: dict[str, Any]) -> Optional[str]:
        return resp.get("state_type") or ((resp.get("state") or {}).get("type"))

    def refresh_flow_state(self, cfg: dict[str, Any]) -> Optional[str]:
        fr_id = cfg.get("flow_run_id")
        if not fr_id:
            return None
        resp = self.api.check_flow_run_status(fr_id)
        state = self.normalize_state_type(resp)
        if state:
            cfg["flow_state"] = state
        if resp.get("name"):
            cfg["flow_run_name"] = resp["name"]
        return state

    build_schedule = staticmethod(build_schedule)

    def schedule_deployment(self, cfg: dict[str, Any]) -> Optional[bool]:
        sched_list = cfg.get("schedules") or []
        if isinstance(sched_list, dict):
            sched_list = [sched_list]
        command = self.build_command(cfg)
        command_type = self.get_command_type()
        payload = []
        for s in sched_list:
            if not isinstance(s, dict) or "schedule" not in s:
                raise ValueError(
                    "Invalid schedule object; expected "
                    "{'active': bool, 'schedule': {...}}"
                )
            payload.append(
                {
                    "schedule": s["schedule"],
                    "active": bool(s.get("active", True)),
                    "parameters": {
                        "command": command,
                        "command_type": command_type,
                        "provider": self.provider,
                    },
                }
            )
        if not payload:
            raise ValueError("No schedules to create.")
        resp = self.api.create_deployment_schedules(cfg["deployment_id"], payload)
        if isinstance(resp, list):
            return any(bool(x.get("active")) for x in resp if isinstance(x, dict))
        return None

    def pause_schedule(self, deployment_id: str) -> None:
        self.api.pause_deployment_schedule(deployment_id)

    def resume_schedule(self, deployment_id: str) -> None:
        self.api.resume_deployment_schedule(deployment_id)

    def delete_active_deployment(self, deployment_id: str) -> None:
        self.api.delete_deployment(deployment_id)

    def format_schedule_msg(self, mode: str, existing: str | None = None) -> str:
        if mode == "ACTIVE":
            return "Schedule ACTIVE"
        if mode == "PAUSED":
            return "Schedule PAUSED"
        return existing or "No schedule"

    def get_deployment_status_bundle(
        self, deployment_id: str
    ) -> tuple[str, dict[str, Any]]:
        try:
            dep_resp = self.api.check_deployment_status(deployment_id)
        except DeploymentNotFound:
            return "DELETED", {
                "deleted_on_server": True,
                "schedule_active": None,
                "schedule_paused": None,
                "schedule_mode": "PRIME",
                "schedule_msg": "No schedule",
                "server_schedules": [],
            }
        dep_status = normalize_deployment_status(dep_resp)
        sched_active, sched_paused, mode = summarize_schedule_state(dep_resp)
        return dep_status, {
            "schedule_active": sched_active,
            "schedule_paused": sched_paused,
            "schedule_mode": mode,
            "schedule_msg": self.format_schedule_msg(mode),
            "server_schedules": dep_resp.get("schedules") or [],
        }


# ---------------------------------------------------------------------------
# SchedulerService — the Prefect stand-in (due-run expansion + dispatch)
# ---------------------------------------------------------------------------


@dataclass
class RunResult:
    run_id: str
    deployment_id: str
    fire_utc: str
    state: str
    rows: int = 0


class SchedulerService:
    """Expand + dispatch due runs for every live deployment.

    ``tick(now)`` is the whole control loop the reference delegates to
    Prefect:

    1. fold the deployment log; for each non-deleted, non-paused
       deployment with active schedules, expand occurrences over
       ``(watermark, now]`` with :func:`occurrences` (catch-up after
       downtime is the same code path — the watermark just lags);
    2. commit ALL newly-due runs as PENDING in one ``flow_runs`` event
       keyed ``(deployment_id, schedule_idx, fire_utc)`` — re-ticking
       the same window is a no-op (the key set is folded first);
    3. dispatch each through ``runner(parameters)`` (default:
       ``sources/services.run_command``), recording RUNNING → COMPLETED
       (with rows appended) or FAILED per run.

    Crash contract: a crash between (2) and (3) leaves PENDING runs
    whose next ``tick`` re-dispatches them (at-least-once); the store's
    dedup writer downstream makes the ingested rows effectively-once —
    the same discipline as the streaming fold indexes.  Racing ticks
    may both commit the same due fire; the fold keeps the first run per
    key, so concurrent schedulers converge on one run record.

    Scale posture: this loop is the REFERENCE-parity surface (a Prefect
    server's working set — up to thousands of deployments, driver-side
    expansion).  A true fleet (millions of schedules) keeps its
    schedule table in parquet and expands with :func:`fire_times_df`;
    the tick then dispatches the (deployment, fire) output partitions
    distributively rather than folding one JSON event log."""

    def __init__(
        self,
        api: LocalDeploymentAPI,
        runner: Callable[[dict[str, Any]], int],
        auto_compact: Optional[int] = 512,
        batcher: Optional[Callable[[dict[str, Any], list[str]], dict]] = None,
    ):
        self.api = api
        self.runner = runner
        # checkpoint-truncate the event log once it exceeds this many
        # live commits (None disables) — keeps the per-tick fold O(recent)
        self.auto_compact = auto_compact
        # optional batch dispatcher (see backfill_batcher): historical
        # fetches sharing (provider, exchange, interval, resolved range)
        # collapse into ONE distributed job instead of per-run jobs
        self.batcher = batcher

    def _due(self, state: dict, now_utc: datetime) -> list[dict]:
        seen_keys = {
            r.get("key") for r in state["flow_runs"].values() if r.get("key")
        }
        due: list[dict] = []
        for dep in state["deployments"].values():
            if dep.get("paused"):
                continue
            mark = state["watermarks"].get(dep["id"])
            after = (
                datetime.strptime(mark, "%Y-%m-%dT%H:%M:%SZ").replace(
                    tzinfo=ZoneInfo("UTC")
                )
                if mark
                else None
            )
            for idx, sch in enumerate(dep.get("schedules") or []):
                if not sch.get("active"):
                    continue
                rule = parse_schedule(
                    sch["schedule"]["rrule"], sch["schedule"].get("timezone")
                )
                for t in occurrences(rule, now_utc, window_start=after):
                    fire = t.astimezone(ZoneInfo("UTC")).strftime(
                        "%Y-%m-%dT%H:%M:%SZ"
                    )
                    key = f"{dep['id']}/{idx}/{fire}"
                    if key in seen_keys:
                        continue
                    due.append(
                        {
                            "id": "PENDING",
                            "name": f"{dep['name']}/{fire}",
                            "dep_id": dep["id"],
                            "key": key,
                            "fire_utc": fire,
                            "parameters": sch.get("parameters") or {},
                        }
                    )
        return due

    def tick(self, now_utc: datetime) -> list[RunResult]:
        if now_utc.tzinfo is None:
            raise ValueError("now_utc must be timezone-aware")
        if self.auto_compact:
            live = self.api.log.version() - self.api.log.min_version() + 1
            if live > self.auto_compact:
                self.api.compact(retain_last=max(8, self.auto_compact // 8))
        state = self.api._fold()
        due = self._due(state, now_utc)
        results: list[RunResult] = []
        if due:
            v = self.api._commit({"action": "flow_runs", "runs": due})
            for i, r in enumerate(due):
                r["id"] = f"run-{v:06d}-{i}"
        # re-dispatch earlier non-terminal runs (crash recovery) before new
        # ones: PENDING = crashed before dispatch, RUNNING = crashed mid-
        # dispatch (its RUNNING commit landed but no terminal state did) —
        # both re-run, at-least-once, dedup-absorbed downstream
        pending_old = [
            r
            for r in state["flow_runs"].values()
            if r["state"]["type"] in ("PENDING", "RUNNING")
        ]
        mark = now_utc.astimezone(ZoneInfo("UTC")).strftime("%Y-%m-%dT%H:%M:%SZ")
        todo = pending_old + due
        if self.batcher is not None:
            groups, singles = self._coalesce(todo)
            for grp in groups:
                results.extend(self._dispatch_batch(grp))
            todo = singles
        for r in todo:
            results.append(self._dispatch(r))
        if state["deployments"]:
            # ONE commit advances every deployment's watermark (a
            # per-deployment commit would write |fleet| files per tick)
            self.api._commit(
                {
                    "action": "watermarks",
                    "marks": {d: mark for d in state["deployments"]},
                }
            )
        return results

    def _coalesce(
        self, runs: list[dict]
    ) -> tuple[list[list[dict]], list[dict]]:
        """Partition dispatchable runs into batchable groups and
        singles.  A run qualifies when it is a historical fetch whose
        RESOLVED (provider, exchange, interval, start, end) matches
        another run's — 5000 deployments firing the same nightly window
        become one group.  Resolution happens here so rolling-window
        tokens group by the window they actually fetch."""
        groups: dict[tuple, list[dict]] = {}
        singles: list[dict] = []
        for r in runs:
            p = r.get("parameters") or {}
            cmd = p.get("command") or {}
            if (
                p.get("command_type") == "fetch_historical"
                and r.get("fire_utc")
                and {"ticker", "exchange", "interval", "start", "end"}
                <= set(cmd)
            ):
                rc = self.resolve_fire_tokens(cmd, r["fire_utc"])
                key = (
                    p.get("provider"),
                    rc["exchange"],
                    rc["interval"],
                    rc["start"],
                    rc["end"],
                )
                grp = groups.setdefault(key, [])
                if any(g["_resolved"]["ticker"] == rc["ticker"] for g in grp):
                    # a second fire of the same ticker+window in one tick
                    # (static-range catch-up): dispatch it per-run so the
                    # store's dedup decides its rows, same as sequential
                    singles.append(r)
                else:
                    grp.append(dict(r, _resolved=rc))
            else:
                singles.append(r)
        out_groups: list[list[dict]] = []
        for grp in groups.values():
            if len(grp) >= 2:
                out_groups.append(grp)
            else:
                singles.extend(
                    {k: v for k, v in g.items() if k != "_resolved"}
                    for g in grp
                )
        return out_groups, singles

    def _dispatch_batch(self, grp: list[dict]) -> list[RunResult]:
        """One distributed job for a whole group of same-window fetches
        (see :func:`backfill_batcher`); per-run rows attributed from the
        post-dedup delta's per-ticker counts."""
        for r in grp:
            self.api._commit(
                {"action": "flow_run_state", "run_id": r["id"],
                 "state": "RUNNING"}
            )
        rc0 = grp[0]["_resolved"]
        params = dict(grp[0].get("parameters") or {})
        tickers = sorted({g["_resolved"]["ticker"] for g in grp})
        try:
            counts = self.batcher(
                {
                    "provider": params.get("provider"),
                    "exchange": rc0["exchange"],
                    "interval": rc0["interval"],
                    "start": rc0["start"],
                    "end": rc0["end"],
                },
                tickers,
            )
        except Exception:
            out = []
            for r in grp:
                self.api._commit(
                    {"action": "flow_run_state", "run_id": r["id"],
                     "state": "FAILED"}
                )
                out.append(
                    RunResult(r["id"], r["dep_id"], r.get("fire_utc", ""),
                              "FAILED")
                )
            return out
        out = []
        for r in grp:
            rows = int(counts.get(r["_resolved"]["ticker"], 0))
            self.api._commit(
                {"action": "flow_run_state", "run_id": r["id"],
                 "state": "COMPLETED", "rows": rows}
            )
            out.append(
                RunResult(r["id"], r["dep_id"], r.get("fire_utc", ""),
                          "COMPLETED", rows)
            )
        return out

    @staticmethod
    def resolve_fire_tokens(obj: Any, fire_utc: str) -> Any:
        """Substitute ``{fire_date}`` / ``{fire_date±N}`` in string
        command values with the run's UTC fire date (±N days, ISO).

        Engine extension: the reference's scheduled parameters are
        STATIC (ui_backend.py:199-237 freezes start/end at schedule
        time), which cannot express a rolling fetch window — every
        scheduled backfill re-fetches the same fixed range.  Tokens
        make the command fire-relative while keeping the reference's
        payload shape when unused."""
        import re

        if isinstance(obj, dict):
            return {
                k: SchedulerService.resolve_fire_tokens(v, fire_utc)
                for k, v in obj.items()
            }
        if isinstance(obj, list):
            return [
                SchedulerService.resolve_fire_tokens(v, fire_utc) for v in obj
            ]
        if isinstance(obj, str) and "{fire_date" in obj:
            fire_day = date.fromisoformat(fire_utc[:10])

            def _sub(m: "re.Match[str]") -> str:
                off = int(m.group(1) or 0)
                return (fire_day + timedelta(days=off)).isoformat()

            return re.sub(r"\{fire_date([+-]\d+)?\}", _sub, obj)
        return obj

    def _dispatch(self, r: dict) -> RunResult:
        self.api._commit(
            {"action": "flow_run_state", "run_id": r["id"], "state": "RUNNING"}
        )
        try:
            params = r.get("parameters") or {}
            if r.get("fire_utc"):
                params = self.resolve_fire_tokens(params, r["fire_utc"])
            rows = int(self.runner(params))
        except Exception:
            self.api._commit(
                {"action": "flow_run_state", "run_id": r["id"], "state": "FAILED"}
            )
            return RunResult(
                r["id"], r["dep_id"], r.get("fire_utc", ""), "FAILED"
            )
        self.api._commit(
            {
                "action": "flow_run_state",
                "run_id": r["id"],
                "state": "COMPLETED",
                "rows": rows,
            }
        )
        return RunResult(
            r["id"], r["dep_id"], r.get("fire_utc", ""), "COMPLETED", rows
        )

    def run_log(self) -> list[dict]:
        """All flow runs, folded (id, dep_id, key, state, rows)."""
        return sorted(
            self.api._fold()["flow_runs"].values(), key=lambda r: r["id"]
        )


def backfill_batcher(
    spark: SparkSession, store, provider: str | None = None
) -> Callable[[dict[str, Any], list[str]], dict]:
    """Batch dispatcher for :class:`SchedulerService`: a group of due
    historical fetches sharing one resolved window runs as ONE
    distributed job through ``services.run_historical_backfill`` (the
    ``stockops_rest`` Python DataSource — one InputPartition per
    ticker, fetch on executors, no payload through the driver).  This
    is the fleet dispatch shape: 5000 due nightly fetches are one Spark
    job, not 5000 sequential driver round-trips.

    Per-run attribution: after the backfill, one bounded collect of the
    per-ticker counts of the rows its commits added (``read_changes``
    from the version before the run; one row per ticker), so each run's
    recorded ``rows`` matches what its ticker actually appended —
    identical semantics to per-run dispatch.  The counts assume the
    backfill is the only writer of its mode while it runs."""

    def _run(group: dict[str, Any], tickers: list[str]) -> dict:
        from stock_ops_spark.sources import services

        mode = services.historical_mode(group["interval"])
        v0 = store.version(mode)
        services.run_historical_backfill(
            spark,
            store,
            provider or group.get("provider") or "EODHD-mock",
            tickers=tickers,
            exchange=group["exchange"],
            interval=group["interval"],
            start=group["start"],
            end=group["end"],
        )
        rows = services.appended_rows(store, mode, v0)
        if rows is None:
            return {}
        return {
            r["ticker"]: int(r["count"])
            for r in rows.groupBy("ticker").count().collect()
        }

    return _run


def spark_runner(
    spark: SparkSession, store, provider: str | None = None
) -> Callable[[dict[str, Any]], int]:
    """Adapter: schedule parameters → ``sources/services.run_command``
    (the reference's controller entrypoint, controller.py:9-39)."""
    from stock_ops_spark.sources import services

    def _run(params: dict[str, Any]) -> int:
        return services.run_command(
            spark,
            store,
            params["command_type"],
            params["command"],
            provider=provider or params.get("provider", "EODHD-mock"),
        )

    return _run
