"""Time/timestamp column helpers.

Re-expresses the reference's scalar time utilities
(``src/stockops/data/utils.py:102-171``) as JVM-side Column expressions —
no Python UDFs, so everything stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Magnitude thresholds for epoch-unit detection, replicated exactly from the
# reference (data/utils.py:102-121): < 1e11 → seconds, < 1e14 → millis,
# else micros.  A 1969 ms-timestamp mis-detects identically in both systems
# — deliberately NOT "fixed" (SURVEY §7.3.5).
_SEC_MAX = 100_000_000_000  # 1e11
_MS_MAX = 100_000_000_000_000  # 1e14


def _idiv(ts: Column, n: int) -> Column:
    """Floor-division for non-negative epochs, kept exact: subtract the
    remainder first so the (double) division is of an exact multiple of n
    whose quotient is an integer < 2^53 — no float rounding, unlike the
    naive ``(ts / n).cast('long')`` which can round up across a boundary."""
    return ((ts - ts % n) / n).cast("long")


def normalize_ts_to_seconds(ts: Column) -> Column:
    """Integer epoch of unknown unit → epoch seconds (floor)."""
    return (
        F.when(ts < F.lit(_SEC_MAX), ts)
        .when(ts < F.lit(_MS_MAX), _idiv(ts, 1000))
        .otherwise(_idiv(ts, 1_000_000))
    )


def epoch_s_to_local(ts_s: Column, tz: str) -> Column:
    """Epoch seconds → exchange-local wall-clock timestamp
    (reference utcts_to_tzstr, data/utils.py:124-136)."""
    return F.from_utc_timestamp(F.timestamp_seconds(ts_s), tz)


def epoch_ms_to_local(ts_ms: Column, tz: str) -> Column:
    return F.from_utc_timestamp(F.timestamp_millis(ts_ms), tz)


def is_valid_isodate(s: Column) -> Column:
    """True when s parses as strict YYYY-MM-DD
    (reference validate_isodatestr, data/utils.py:148-154)."""
    return s.rlike(r"^\d{4}-\d{2}-\d{2}$") & F.try_to_timestamp(
        s, F.lit("yyyy-MM-dd")
    ).isNotNull()


def is_valid_epoch(ts: Column, unit: str) -> Column:
    """Range-check an epoch int for the given unit
    (reference validate_utc_ts, data/utils.py:157-171)."""
    if unit == "s":
        return (ts >= 0) & (ts < F.lit(_SEC_MAX))
    if unit == "ms":
        return (ts >= F.lit(_SEC_MAX)) & (ts < F.lit(_MS_MAX))
    raise ValueError(f"unknown unit {unit!r}")


def in_session(local_ts: Column, open_hm: str = "09:30", close_hm: str = "16:00") -> Column:
    """Exchange-session predicate on a *local* timestamp
    (trading hours from reference eodhd_config.py:20-30)."""
    hm = F.date_format(local_ts, "HH:mm")
    return (hm >= F.lit(open_hm)) & (hm <= F.lit(close_hm))
