"""Incremental table/interval statistics (reference A5/A6).

The reference maintains ``__table_stats__`` (row_count, min/max ts, min/max
date) and ``__interval_stats__`` (the same, grouped by interval) per DB
file, merged O(1) per batch (``sql_db.py:540-669``).  Parquet footers
already carry per-file min/max, but the engine still exposes the same
*catalog view*, merged per ingested batch from the batch alone — never a
rescan of the store.  The store publishes each batch's stats increment in
the same manifest commit as its data (``sources/commitlog.py``); this
module holds the aggregate (``batch_stats``), its Spark merge
(``merge_stats``), the driver-side fold (``fold_stats``), and the
swap-installed table a materialized view folds into (``StatsTable``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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


class StatsTable:
    """A small parquet-backed table installed by swap: the persisted
    partial-aggregate table ``plans/matview.MatView`` folds into.

    ``merge_fn(existing | None, delta, keys) -> merged`` folds one
    delta into the installed rows (MatView passes its additive-measure
    merge; ``merge_stats`` is the min/max/row_count stats merge).

    Crash safety: ``update`` materializes the merged rows into a
    sibling ``.tmp`` directory and installs it with two renames (the
    ``streaming/dedup.py`` swap discipline) — a SIGKILL at ANY point
    leaves either the old or the new directory whole, never a
    half-written directory that poisons readers with
    UNABLE_TO_INFER_SCHEMA.  ``read`` additionally adopts a
    completed-but-uninstalled ``.tmp`` / restores a stranded ``.old``
    so a kill BETWEEN the two renames loses nothing.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        merge_fn,
    ):
        self.spark = spark
        self.path = path
        self.keys = keys
        self.merge_fn = merge_fn

    @property
    def _tmp(self) -> str:
        return self.path + ".tmp"

    @property
    def _aside(self) -> str:
        return self.path + ".old"

    # A SIGKILL-torn parquet file always lacks its footer (the footer is
    # written at close), so footer-read failure IS the torn-write signal.
    _TORN_MARKERS = (
        "UNABLE_TO_INFER_SCHEMA",
        "PATH_NOT_FOUND",
        "CANNOT_READ_FILE_FOOTER",
        "FAILED_READ_FILE",
    )

    def _readable(self, path: str) -> DataFrame | None:
        try:
            df = self.spark.read.parquet(path)
            df.schema  # force footer read so debris fails HERE
            return df
        except Exception as e:  # AnalysisException or Py4JJavaError footer error
            if any(m in str(e) for m in self._TORN_MARKERS):
                return None
            raise

    def read(self) -> DataFrame | None:
        import shutil

        if os.path.exists(self.path):
            df = self._readable(self.path)
            if df is not None:
                # healthy install — drop any swap debris from a crash
                shutil.rmtree(self._tmp, ignore_errors=True)
                shutil.rmtree(self._aside, ignore_errors=True)
                return df
            # torn directory (legacy in-place overwrite killed mid-write):
            # fall through to the recovery candidates
            shutil.rmtree(self.path, ignore_errors=True)
        # killed between the two renames: tmp is complete (it is written
        # before any rename) — adopt it; else a stranded aside is the
        # last whole generation — restore it
        for cand in (self._tmp, self._aside):
            if os.path.exists(cand):
                df = self._readable(cand)
                if df is not None:
                    os.rename(cand, self.path)
                    shutil.rmtree(self._tmp, ignore_errors=True)
                    shutil.rmtree(self._aside, ignore_errors=True)
                    return self.spark.read.parquet(self.path)
                shutil.rmtree(cand, ignore_errors=True)
        return None

    def update(self, delta: DataFrame) -> None:
        """Fold ``delta`` into the table with ``merge_fn`` and install
        the result by swap."""
        import shutil

        existing = self.read()
        merged = self.merge_fn(existing, delta, self.keys)
        # merged's plan reads self.path, which the swap below replaces —
        # sever lineage first, then write the tiny result as one file
        merged = merged.localCheckpoint(eager=True)
        shutil.rmtree(self._tmp, ignore_errors=True)
        shutil.rmtree(self._aside, ignore_errors=True)
        merged.coalesce(1).write.mode("overwrite").parquet(self._tmp)
        if os.path.exists(self.path):
            os.rename(self.path, self._aside)
        os.rename(self._tmp, self.path)
        shutil.rmtree(self._aside, ignore_errors=True)
