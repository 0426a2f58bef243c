"""Incremental table/interval statistics (reference A5/A6).

The reference maintains ``__table_stats__`` (row_count, min/max ts, min/max
date) and ``__interval_stats__`` (the same, grouped by interval) per DB
file, merged O(1) per batch (``sql_db.py:540-669``).  Parquet footers
already carry per-file min/max, but the engine still exposes the same
*catalog view*, from each batch alone — never a rescan of the store.
Every batch dir the store writes records its per-key stats rows in its
own commit meta, and the store's stats views fold the live dirs' rows
(``sources/commitlog.py``), so a removed dir's stats leave with it.
This module holds the Spark aggregate (``batch_stats``, the reference
the tests compare the views against) and the one fold (``fold_stats``,
on the driver).  A materialized view's grouped partials
(``plans/matview.py``) generalize the same fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_ops_spark.schemas import TS_COL


def batch_stats(batch: DataFrame, mode: str, by_interval: bool) -> DataFrame:
    """One aggregate over the (already small) ingest batch: row_count and
    min/max of the mode's timestamp column, per ticker (and interval)."""
    ts_col = TS_COL[mode]
    keys = ["ticker", "interval"] if by_interval else ["ticker"]
    ts = F.col(ts_col)
    if mode == "historical_interday":
        lo, hi = F.min(ts.cast("string")), F.max(ts.cast("string"))
    else:
        lo, hi = F.min(ts), F.max(ts)
    return batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("row_count"),
        lo.alias("min_ts"),
        hi.alias("max_ts"),
    )


def fold_stats(tbl, keys, sums=("rc",), mins=("lo",), maxs=("hi",), lists=()):
    """The one null-safe stats fold, on the driver (the reference's
    update_min_max, sql_db.py:34-40): one pyarrow ``group_by`` over an
    Arrow table of per-key stat rows — sum of each count column
    (NULL counts as 0), min of each low and max of each high (NULLs
    ignored, like Spark's least/greatest), plus the listed columns
    gathered per key.  Folding a concatenation of stat tables is their
    merge, because every aggregate is associative."""
    import pyarrow.compute as pc

    zero = pc.ScalarAggregateOptions(min_count=0)
    aggs = (
        [(c, "sum", zero) for c in sums]
        + [(c, "min") for c in mins]
        + [(c, "max") for c in maxs]
        + [(c, "list") for c in lists]
    )
    out = tbl.group_by(list(keys), use_threads=False).aggregate(aggs)
    names = {f"{a[0]}_{a[1]}": a[0] for a in aggs}
    out = out.rename_columns([names.get(c, c) for c in out.column_names])
    return out.select([*keys, *sums, *mins, *maxs, *lists])
