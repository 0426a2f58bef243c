"""Read/query path parity (reference S6/S7/O1/O5, reader.py:17-91).

The reference plans which partition files a range query touches by
enumerating filenames (``data/utils.py:79-99``), opens each SQLite file,
probes, scans, unions, sorts, and materializes a tz-aware pandas frame,
all in one process.  Here the store's manifest first drops every batch
dir whose recorded bounds miss the range (``ManifestStore.read_where``).
A read whose remaining partition fragments fit ``MICRO_COMMIT_ROWS``
then runs like the reference's, in one process: pyarrow scans the
fragments of the range's partitions, filters on ticker and time, sorts
by time, and the rows enter Spark as one local relation — the range
read runs no Spark job and ``to_pandas`` one.  A larger read is
Catalyst's: the range predicate on the partition-derived columns prunes
directories, the ts-range predicate pushes into parquet row-group stats,
union across files is the native multi-file scan, and the sort is a
Spark sort.

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


class EmptyReadError(RuntimeError):
    """Raised when a range query matches no rows (reference reader.py:61-68)."""


def _local_wall_to_epoch(s: str, tz: str) -> int:
    """Exchange-local 'YYYY-MM-DD HH:MM' → epoch seconds (reference
    tzstr_to_utcts, data/utils.py:139-145)."""
    naive = _dt.datetime.strptime(s, "%Y-%m-%d %H:%M")
    return int(naive.replace(tzinfo=ZoneInfo(tz)).timestamp())


class ReadProcess:
    """Mirror of the reference ReadProcess over the store.

    The range read goes through the store's commit-level data skipping
    (``ManifestStore.read_where``), so batch dirs provably outside the
    (ticker, ts) bounds are never listed at all; the full predicate is
    still applied below, so the prune is an optimization, never a
    semantics change.  ``read_where`` returns its rows in time order on
    both of its paths, so only ``latest_only``'s window needs a sort
    again; on its driver path (a local relation) the predicate folds
    into the rows and the emptiness check runs no job."""

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
            for s in (start, end):  # a malformed bound raises ValueError
                _dt.datetime.strptime(s, "%Y-%m-%d")
        else:
            lo_s = _local_wall_to_epoch(start, self.tz)
            hi_s = _local_wall_to_epoch(end, self.tz)
            mult = 1000 if mode == "streaming" else 1
            lo_v, hi_v = lo_s * mult, hi_s * mult
            lo, hi = F.lit(lo_v), F.lit(hi_v)

        df = self.store.read_where(mode, ticker=ticker, ts_min=lo_v, ts_max=hi_v)
        if df is None:
            raise EmptyReadError(f"no data ingested for mode={mode}")

        pred = (F.col(ts_col) >= lo) & (F.col(ts_col) <= hi)
        pred &= F.col("ticker") == ticker
        if interval is not None:
            pred &= F.col("interval") == interval

        out = df.where(pred)
        if latest_only:
            from stock_ops_spark.operators.versioning import latest_version_view
            from stock_ops_spark.schemas import INDEX_COLS

            out = latest_version_view(out, INDEX_COLS[mode]).orderBy(ts_col)
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
