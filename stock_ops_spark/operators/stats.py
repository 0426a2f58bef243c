"""Incremental table/interval statistics (reference A5/A6).

The reference maintains ``__table_stats__`` (row_count, min/max ts, min/max
date) and ``__interval_stats__`` (the same, grouped by interval) per DB
file, merged O(1) per batch (``sql_db.py:540-669``).  Parquet footers
already carry per-file min/max, but the engine still exposes the same
*catalog view*: a tiny stats parquet per dataset, merged per ingested
batch with one aggregate + one coalesced overwrite — never a rescan of the
store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

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
    """A small parquet-backed stats catalog for one dataset.

    Crash safety: ``update`` materializes the merged stats into a
    sibling ``.tmp`` directory and installs it with two renames (the
    ``streaming/dedup.py`` swap discipline) — a SIGKILL at ANY point
    leaves either the old or the new stats directory whole, never a
    half-written directory that poisons readers with
    UNABLE_TO_INFER_SCHEMA (caught live by the hard-kill test in
    ``tests/test_crash_recovery.py``).  ``read`` additionally adopts a
    completed-but-uninstalled ``.tmp`` / restores a stranded ``.old``
    so a kill BETWEEN the two renames loses nothing.

    One window remains inherently open with plain parquet (no commit
    log): a kill after the data append but before the stats merge
    leaves the catalog one batch behind the store — the replay dedups
    the rows away, so the skipped merge never re-fires.  ``rebuild``
    heals that by re-aggregating the store (bounded, maintenance-time
    only); Delta/Iceberg close it with a transaction log, plain
    parquet cannot.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        merge_fn=None,
    ):
        self.spark = spark
        self.path = path
        self.keys = keys
        # (existing|None, delta, keys) -> merged.  Defaults to the
        # min/max/row_count stats merge; MatView reuses this table's
        # crash-safe swap machinery with an additive-measure merge.
        self.merge_fn = merge_fn or merge_stats

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

    def update(self, delta) -> None:
        """Merge a stats delta — a DataFrame, or an Arrow table with the
        same columns — into the catalog.  The default stats merge runs
        driver-side (``_merge_arrow``) whenever it covers the value
        domains; otherwise, and for a custom ``merge_fn``, Spark merges."""
        import shutil

        import pyarrow as pa

        if self.merge_fn is merge_stats:
            tbl = delta
            if not isinstance(tbl, pa.Table):
                try:
                    tbl = delta.select(*self._cols).toArrow()  # tiny by contract
                except Exception:
                    tbl = None
            if tbl is not None and self._merge_arrow(tbl):
                return
        if isinstance(delta, pa.Table):
            delta = self.spark.createDataFrame(delta)
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

    @property
    def _cols(self) -> list[str]:
        return self.keys + ["row_count", "min_ts", "max_ts"]

    def _merge_arrow(self, delta) -> bool:
        """Driver-side merge for the DEFAULT stats merge (r12, guide
        §1/§5).  The stats catalog is tiny by contract (one row per
        ticker[, interval]), yet the Spark-side update paid three jobs
        per call — read, checkpoint of the merged plan, coalesced write —
        twice per ``ParquetStore.ingest_batch``; profiled at ~0.3 s per
        call on the e2e replay floor (q334/q333/q45).  Here the existing
        catalog and the delta are concatenated and folded with
        ``fold_stats`` (the null-safe least/greatest of ``merge_stats``),
        and the result is one pyarrow file installed through the SAME
        tmp-dir + two-rename swap, so the crash story is unchanged.
        Returns False — writing nothing; the caller falls back to the
        Spark merge — for value domains this path does not cover: keys
        must be strings, counts int64 and ts cells int64 or string on
        both sides (anything else, or NULL-typed ts with nothing to
        type them by, declines)."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = self._cols

        def _covered(schema) -> bool:
            def ok(c, *preds):
                t = schema.field(c).type
                return pa.types.is_null(t) or any(p(t) for p in preds)

            return (
                not set(cols) - set(schema.names)
                and all(ok(k, pa.types.is_string) for k in self.keys)
                and ok("row_count", pa.types.is_int64)
                and all(
                    ok(c, pa.types.is_int64, pa.types.is_string)
                    for c in ("min_ts", "max_ts")
                )
            )

        if not _covered(delta.schema):
            return False

        # existing rows with read()'s exact adoption/heal semantics
        existing = None
        if os.path.exists(self.path):
            try:
                existing = pq.read_table(self.path)
                shutil.rmtree(self._tmp, ignore_errors=True)
                shutil.rmtree(self._aside, ignore_errors=True)
            except Exception:
                existing = None
                shutil.rmtree(self.path, ignore_errors=True)
        if existing is None:
            for cand in (self._tmp, self._aside):
                if not os.path.exists(cand):
                    continue
                try:
                    existing = pq.read_table(cand)
                except Exception:
                    shutil.rmtree(cand, ignore_errors=True)
                    continue
                os.rename(cand, self.path)
                shutil.rmtree(self._tmp, ignore_errors=True)
                shutil.rmtree(self._aside, ignore_errors=True)
                break
        parts = [delta.select(cols)]
        if existing is not None:
            if not _covered(existing.schema):
                return False  # foreign schema: let the Spark merge resolve it
            parts.insert(0, existing.select(cols))
        try:
            both = pa.concat_tables(parts, promote_options="default")
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            return False  # mixed ts domains: let the Spark merge resolve it
        merged = fold_stats(
            both, self.keys, ("row_count",), ("min_ts",), ("max_ts",)
        )
        ts_type = merged.schema.field("min_ts").type
        if not merged.num_rows or pa.types.is_null(ts_type):
            return False  # nothing to write, or no ts type to write it with
        merged = merged.cast(
            pa.schema(
                [(k, pa.string()) for k in self.keys]
                + [("row_count", pa.int64()), ("min_ts", ts_type),
                   ("max_ts", ts_type)]
            )
        ).sort_by([(k, "ascending") for k in self.keys])
        shutil.rmtree(self._tmp, ignore_errors=True)
        shutil.rmtree(self._aside, ignore_errors=True)
        os.makedirs(self._tmp)
        pq.write_table(merged, os.path.join(self._tmp, "part-00000.parquet"))
        if os.path.exists(self.path):
            os.rename(self.path, self._aside)
        os.rename(self._tmp, self.path)
        shutil.rmtree(self._aside, ignore_errors=True)
        return True

    def rebuild(self, store_df: DataFrame, mode: str, by_interval: bool) -> None:
        """Maintenance-time heal: recompute the catalog from the store
        itself (one full aggregate — bounded, never on the hot path)."""
        import shutil

        full = batch_stats(store_df, mode, by_interval)
        full = full.localCheckpoint(eager=True)
        shutil.rmtree(self._tmp, ignore_errors=True)
        shutil.rmtree(self._aside, ignore_errors=True)
        full.coalesce(1).write.mode("overwrite").parquet(self._tmp)
        if os.path.exists(self.path):
            os.rename(self.path, self._aside)
        os.rename(self._tmp, self.path)
        shutil.rmtree(self._aside, ignore_errors=True)
