"""Read/query path parity (reference S6/S7/O1/O5, reader.py:17-91).

The reference plans which partition files a range query touches by
enumerating filenames (``data/utils.py:79-99``), opens each SQLite file,
probes, scans, unions, sorts, and materializes a tz-aware pandas frame.
Here every one of those stages is Catalyst's job: the range predicate on
the partition-derived columns prunes directories; the ts-range predicate
pushes into parquet row-group stats; union across files is the native
multi-file scan.

API behavior preserved exactly:
- bounds are interpreted per mode (ISO date strings for interday,
  exchange-local "YYYY-MM-DD HH:MM" wall time → epoch for intraday /
  streaming), reference ``reader.py:31-51``
- raises ``EmptyReadError`` on zero rows (reference raises,
  ``reader.py:61-68``) — an API contract, not engine behavior
- ``to_pandas`` returns a tz-aware-indexed frame (reference
  ``reader.py:72-91``)
"""

from __future__ import annotations

import datetime as _dt
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_ops_spark.schemas import TS_COL
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.layout import PARTITION_COLS


class EmptyReadError(RuntimeError):
    """Raised when a range query matches no rows (reference reader.py:61-68)."""


def _local_wall_to_epoch(s: str, tz: str) -> int:
    """Exchange-local 'YYYY-MM-DD HH:MM' → epoch seconds (reference
    tzstr_to_utcts, data/utils.py:139-145)."""
    naive = _dt.datetime.strptime(s, "%Y-%m-%d %H:%M")
    return int(naive.replace(tzinfo=ZoneInfo(tz)).timestamp())


def _partition_range_pred(parts: list[str], start: _dt.datetime, end: _dt.datetime):
    """Exact partition predicate for an arbitrary local-time range — an
    OR of per-month conjunctions, exactly the month/day set the reference
    enumerates as filenames (``data/utils.py:79-99``).

    The previous between()-only form degraded across boundaries: a Dec→Jan
    range constrained only ``year`` and scanned all 24 month partitions of
    the two years.  Enumerating the months keeps the term count tiny (one
    per month spanned) while letting Catalyst prune every untouched
    directory, any range shape.
    """
    if (start.year, start.month) > (end.year, end.month):
        # inverted range: always-false predicate (the ts-range filter is
        # empty too; keeps the clean EmptyReadError path, no crash)
        return F.lit(False)
    terms = []
    y, m = start.year, start.month
    while (y, m) <= (end.year, end.month):
        conj = (F.col("year") == y) & (F.col("month") == m)
        if "day" in parts:
            first = (y, m) == (start.year, start.month)
            last = (y, m) == (end.year, end.month)
            if first and last:
                conj &= F.col("day").between(start.day, end.day)
            elif first:
                conj &= F.col("day") >= start.day
            elif last:
                conj &= F.col("day") <= end.day
        terms.append(conj)
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    pred = terms[0]
    for t in terms[1:]:
        pred = pred | t
    return pred


class ReadProcess:
    """Mirror of the reference ReadProcess over the store.

    The range read goes through the store's commit-level data skipping
    (``ManifestStore.read_where``), so batch dirs provably outside the
    (ticker, ts) bounds are never listed at all; the full predicate is
    still applied below, so the prune is an optimization, never a
    semantics change."""

    def __init__(self, store: ManifestStore):
        self.store = store
        self.tz = store.tz

    def read_dt_range(
        self,
        mode: str,
        ticker: str,
        start: str,
        end: str,
        interval: str | None = None,
        latest_only: bool = False,
    ) -> DataFrame:
        ts_col = TS_COL[mode]
        if mode == "historical_interday":
            lo, hi = F.lit(start).cast("date"), F.lit(end).cast("date")
            lo_v, hi_v = start, end  # ISO strings order like the dates
            start_local = _dt.datetime.strptime(start, "%Y-%m-%d")
            end_local = _dt.datetime.strptime(end, "%Y-%m-%d")
        else:
            lo_s = _local_wall_to_epoch(start, self.tz)
            hi_s = _local_wall_to_epoch(end, self.tz)
            start_local = _dt.datetime.strptime(start, "%Y-%m-%d %H:%M")
            end_local = _dt.datetime.strptime(end, "%Y-%m-%d %H:%M")
            mult = 1000 if mode == "streaming" else 1
            lo_v, hi_v = lo_s * mult, hi_s * mult
            lo, hi = F.lit(lo_v), F.lit(hi_v)

        df = self.store.read_where(mode, ticker=ticker, ts_min=lo_v, ts_max=hi_v)
        if df is None:
            raise EmptyReadError(f"no data ingested for mode={mode}")

        # partition pruning: constrain the partition-derived columns from
        # the local-time bounds (what the reference's filename enumeration
        # did, P7) — Catalyst turns this into directory pruning
        pred = (F.col(ts_col) >= lo) & (F.col(ts_col) <= hi)
        parts = PARTITION_COLS[mode]
        if parts:
            pred &= _partition_range_pred(parts, start_local, end_local)

        pred &= F.col("ticker") == ticker
        if interval is not None:
            pred &= F.col("interval") == interval

        out = df.where(pred)
        if latest_only:
            from stock_ops_spark.operators.versioning import latest_version_view
            from stock_ops_spark.schemas import INDEX_COLS

            out = latest_version_view(out, INDEX_COLS[mode])
        out = out.orderBy(ts_col)
        if out.limit(1).isEmpty():
            raise EmptyReadError(
                f"no rows for {ticker} {mode} in [{start}, {end}] interval={interval}"
            )
        return out

    def to_pandas(self, df: DataFrame, mode: str):
        """S7 pandas materialization: epoch → tz-aware datetime index,
        sorted (reference get_df, reader.py:72-91)."""
        import pandas as pd

        ts_col = TS_COL[mode]
        pdf = df.toPandas()
        if mode == "historical_interday":
            idx = pd.to_datetime(pdf[ts_col]).dt.tz_localize(self.tz)
        elif mode == "historical_intraday":
            idx = pd.to_datetime(pdf[ts_col], unit="s", utc=True).dt.tz_convert(self.tz)
        else:
            idx = pd.to_datetime(pdf[ts_col], unit="ms", utc=True).dt.tz_convert(self.tz)
        pdf = pdf.set_index(idx).sort_index()
        return pdf
