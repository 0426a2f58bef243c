"""Read/query path parity (reference S6/S7/O1/O5, reader.py:17-91).

The reference plans which partition files a range query touches by
enumerating filenames (``data/utils.py:79-99``), opens each SQLite file,
probes, scans, unions, sorts, and materializes a tz-aware pandas frame,
all in one process.  Here the store's manifest first drops every batch
dir whose recorded bounds miss the range (``ManifestStore.read_where``).
A read whose remaining partition fragments fit ``MICRO_COMMIT_ROWS``
then runs like the reference's, in one process: pyarrow scans the
fragments of the range's partitions, filters on ticker, interval and
time, sorts by time, and the rows enter Spark as one local relation
that keeps its Arrow table.  ``latest_only`` picks each key's latest
version from that table, and ``to_pandas`` converts it directly — a
micro range read and its pandas frame run no Spark job.  A larger read
is Catalyst's: the range predicate on the partition-derived columns
prunes directories, the ts-range predicate pushes into parquet
row-group stats, union across files is the native multi-file scan, the
sort is a Spark sort, and ``to_pandas`` is ``toPandas``.

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

from stock_ops_spark.localrel import arrow_relation, arrow_table
from stock_ops_spark.operators.versioning import latest_version_view
from stock_ops_spark.schemas import INDEX_COLS, TS_COL
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.ingest import latest_version_arrow


class EmptyReadError(RuntimeError):
    """Raised when a range query matches no rows (reference reader.py:61-68)."""


def _local_wall_to_epoch(s: str, tz: str) -> int:
    """Exchange-local 'YYYY-MM-DD HH:MM' → epoch seconds (reference
    tzstr_to_utcts, data/utils.py:139-145)."""
    naive = _dt.datetime.strptime(s, "%Y-%m-%d %H:%M")
    return int(naive.replace(tzinfo=ZoneInfo(tz)).timestamp())


class ReadProcess:
    """Mirror of the reference ReadProcess over the store.

    The range read is the store's ``read_where``: commit-level data
    skipping drops batch dirs provably outside the (ticker, ts) bounds
    before anything is listed, and the whole predicate — ticker,
    interval, time bounds — is applied to the rest, which come back in
    time order.  On its driver path (a local relation that keeps its
    Arrow table) the emptiness check, ``latest_only``'s pick and
    ``to_pandas`` all run on that table, with no Spark job; on its
    Spark path they are an ``isEmpty`` job, a window plus a sort, and
    ``toPandas``."""

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
        if mode == "historical_interday":
            lo_v, hi_v = start, end  # ISO strings order like the dates
            for s in (start, end):  # a malformed bound raises ValueError
                _dt.datetime.strptime(s, "%Y-%m-%d")
        else:
            lo_s = _local_wall_to_epoch(start, self.tz)
            hi_s = _local_wall_to_epoch(end, self.tz)
            mult = 1000 if mode == "streaming" else 1
            lo_v, hi_v = lo_s * mult, hi_s * mult

        out = self.store.read_where(
            mode, ticker=ticker, ts_min=lo_v, ts_max=hi_v, interval=interval
        )
        if out is None:
            raise EmptyReadError(f"no data ingested for mode={mode}")
        tbl = arrow_table(out)
        if latest_only:
            tbl = None if tbl is None else latest_version_arrow(tbl, INDEX_COLS[mode])
            if tbl is not None:
                out = arrow_relation(self.store.spark, tbl)
            else:
                out = latest_version_view(out, INDEX_COLS[mode]).orderBy(TS_COL[mode])
        empty = out.limit(1).isEmpty() if tbl is None else not tbl.num_rows
        if empty:
            raise EmptyReadError(
                f"no rows for {ticker} {mode} in [{start}, {end}] interval={interval}"
            )
        return out

    def to_pandas(self, df: DataFrame, mode: str):
        """S7 pandas materialization: epoch → tz-aware datetime index,
        sorted (reference get_df, reader.py:72-91).  A frame
        ``read_dt_range`` built on the driver converts its Arrow table;
        any other frame is ``toPandas``."""
        import pandas as pd

        ts_col = TS_COL[mode]
        tbl = arrow_table(df)
        pdf = df.toPandas() if tbl is None else tbl.to_pandas()
        if mode == "historical_interday":
            idx = pd.to_datetime(pdf[ts_col]).dt.tz_localize(self.tz)
        elif mode == "historical_intraday":
            idx = pd.to_datetime(pdf[ts_col], unit="s", utc=True).dt.tz_convert(self.tz)
        else:
            idx = pd.to_datetime(pdf[ts_col], unit="ms", utc=True).dt.tz_convert(self.tz)
        pdf = pdf.set_index(idx).sort_index()
        return pdf
