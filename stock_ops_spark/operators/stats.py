"""Incremental table/interval statistics (reference A5/A6).

The reference maintains ``__table_stats__`` (row_count, min/max ts, min/max
date) and ``__interval_stats__`` (the same, grouped by interval) per DB
file, merged O(1) per batch (``sql_db.py:540-669``).  Parquet footers
already carry per-file min/max, but the engine still exposes the same
*catalog view*, merged per ingested batch from the batch alone — never a
rescan of the store.  The store publishes each batch's stats increment in
the same manifest commit as its data (``sources/commitlog.py``); this
module holds the aggregate (``batch_stats``), its Spark merge
(``merge_stats``) and the driver-side fold (``fold_stats``).  A
materialized view's grouped partials (``plans/matview.py``) generalize
the same fold and install through ``operators/artifacts.install``.
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


def merge_stats(existing: DataFrame | None, delta: DataFrame, keys: list[str]) -> DataFrame:
    """O(1)-per-key merge of a batch's stats into the running stats
    (reference update_min_max, sql_db.py:34-40)."""
    if existing is None:
        return delta
    e = existing.select(
        *keys,
        F.col("row_count").alias("__rc"),
        F.col("min_ts").alias("__lo"),
        F.col("max_ts").alias("__hi"),
    )
    return (
        delta.join(e, on=keys, how="full_outer")
        .select(
            *keys,
            (F.coalesce(F.col("row_count"), F.lit(0)) + F.coalesce(F.col("__rc"), F.lit(0))).alias(
                "row_count"
            ),
            F.least(F.col("min_ts"), F.col("__lo")).alias("min_ts"),
            F.greatest(F.col("max_ts"), F.col("__hi")).alias("max_ts"),
        )
    )


def fold_stats(tbl, keys, sums=("rc",), mins=("lo",), maxs=("hi",), lists=()):
    """The one null-safe stats fold on the driver (``merge_stats`` is its
    Spark counterpart): one pyarrow ``group_by`` over an Arrow table of
    per-key stat rows — sum of each count column
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
