"""Batch ingestion with full reference semantics (S5, A1-A6).

One ``ParquetStore.ingest_batch`` call is the Spark-first equivalent of the
reference's entire Redis-buffer → writer → SQLite path
(``writer.py:259-353`` + ``sql_db.py:345-671``): normalize is assumed done
upstream (operators in ``transform``), then

1. P5  drop all-null-payload rows
2. A3  within-batch exact dedup (NULL-safe, whole payload)
3. A2  event-time partition routing columns (exchange-local Y/M/D)
4. A3  anti-join vs existing rows with identical (key, payload)
5. A4  version = prior max(version) per key + row_number within batch
6. append to Hive-partitioned parquet (dynamic partition overwrite OFF —
   pure append, matching the reference's append-only versioned log)
7. A5/A6 incremental stats merge

Scale posture: the existing-store probe (steps 4-5) reads ONLY the
partitions the batch touches — partition values are collected from the
(small) batch and pushed as an IN filter, so Catalyst prunes everything
else.  The per-key max-version aggregate is computed on that pruned slice
and broadcast when small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.stats import StatsTable
from stock_ops_spark.sources.microcommit import materialize_micro
from stock_ops_spark.operators.versioning import assign_versions, latest_version_view
from stock_ops_spark.sources.layout import (
    PARTITION_COLS,
    mode_root,
    partition_values_predicate,
    with_partition_cols,
)

# A micro-batch touches a handful of partitions; an unbounded backfill can
# touch thousands.  Above this, the ingest dedup probe scans the store
# unpruned rather than collecting partition literals to the driver.
_MAX_PRUNE_PARTITIONS = 256


def compute_versioned_delta(
    batch: DataFrame,
    existing: DataFrame | None,
    mode: str,
    tz: str,
    touched: list | None = None,
    ignore_cols: tuple = (),
) -> DataFrame:
    """Steps 1-5 of the ingest contract (P5/A2/A3/A4), shared by
    ``ParquetStore`` and the manifest-committed store
    (``sources/commitlog.py``): route partitions, align evolved schemas
    both ways, prune the existing-store probe to the touched partitions,
    dedup against it, and assign versions.  Returns the lazy delta —
    the caller decides how to materialize and commit it.

    ``touched``: optional precomputed partition-value tuples the batch
    hits (a caller that already ran an aggregate over the routed batch
    can fold the collect in and save one Spark job — r8).  ``[]`` means
    "known over-cap: skip pruning"; ``None`` means "compute here".

    ``ignore_cols``: caller-internal tag columns (the group-commit
    batch id — r9) that must ride through the pass UNTOUCHED: excluded
    from the dedup payload and the conflict tiebreak, never compared
    against the store."""
    keys = S.INDEX_COLS[mode]
    declared = set(S.SCHEMAS[mode].fieldNames())
    extra = [
        c for c in batch.columns if c not in declared and c not in ignore_cols
    ]
    payload = S.payload_cols(mode) + extra
    parts = PARTITION_COLS[mode]

    routed = with_partition_cols(batch, mode, tz)

    if existing is not None:
        # align schemas both ways: a batch may carry a brand-new column
        # (absent from every stored file) and the store may carry
        # columns this batch omits — NULL-fill so the null-safe payload
        # comparison and version probe see one union schema
        batch_cols = set(routed.columns)
        store_cols = set(existing.columns)
        # Store-only columns are NULL-filled for the append but stay OUT
        # of the dedup payload: the reference compares only the incoming
        # payload's own keys (sql_db.py:487-497), so a re-sent row that
        # matches a stored row on every column the producer knows about
        # is an exact duplicate even if the store has since evolved a
        # column the producer doesn't send (ADVICE r1).
        for c in sorted(store_cols - batch_cols - set(parts)):
            routed = routed.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
        for c in sorted(set(payload) - store_cols):
            existing = existing.withColumn(c, F.lit(None).cast(routed.schema[c].dataType))
    if existing is not None and parts:
        # prune the store probe to just the partitions this batch hits:
        # an OR-of-conjunctions over literal partition values reaches the
        # file listing as partition pruning (a batch touches few).
        # Guard: the collect is bounded by construction for a
        # micro-batch, but a historical backfill fed through this path
        # could touch thousands of partitions — cap the literal list;
        # past the cap, skip pruning (full probe beats an unbounded
        # driver collect + a many-thousand-term predicate).
        if touched is None:
            touched = [
                tuple(r)
                for r in routed.select(*parts)
                .distinct()
                .limit(_MAX_PRUNE_PARTITIONS + 1)
                .collect()
            ]
        if len(touched) > _MAX_PRUNE_PARTITIONS:
            touched = []
        pred = partition_values_predicate(parts, touched)
        if pred is not None:
            existing = existing.where(pred)

    return assign_versions(routed, existing, keys, payload)


#: Write-layout bound (r12, guide §6): a delta KNOWN to be at most this
#: many rows is hash-repartitioned onto its dynamic-partition columns
#: before the write, so each (year[, month[, day]]) value is written by
#: exactly ONE task — one file per partition value, the minimum the
#: Hive layout permits, and the fewest create/rename metadata ops on
#: the committer path (the e2e replay floor is disk-metadata-bound).
#: Above the bound — or when the caller cannot know the size without an
#: extra job — the spread layout stays: one task per partition value
#: would serialize a large backfill's write into few tasks and can skew
#: (guide §2.5); at ~100 B/tick row the bound keeps the worst single
#: file ≈ 512 MB, inside the 128 MB–1 GB target band of guide §6.
SMALL_WRITE_ROWS = 5_000_000


def cluster_for_write(
    versioned: DataFrame,
    mode: str,
    n_rows: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Cluster rows within each partition file by (ticker, ts): parquet
    row-group min/max stats then prune per-ticker range reads without
    ticker being a partition column (the Z-ORDER stand-in from SURVEY
    §7.3.7).  Paired everywhere with zstd compression (~2x smaller than
    snappy on tick data for ~equal scan speed — at 100 TB the scan is
    IO-bound and this is pure win).

    r12 (§6): the within-task sort is prefixed with the mode's partition
    columns.  Spark's V1 write path REQUIRES task rows ordered by the
    dynamic-partition columns and inserts its own Sort when the child's
    ordering does not satisfy that — so the old (ticker, ts)-only sort
    was re-sorted by (year[, month[, day]]) inside the writer, paying
    twice AND losing the promised (ticker, ts) clustering inside each
    file.  With the partition prefix the writer's requirement is
    satisfied by our sort and each file really is (ticker, ts)-runs.
    ``n_rows``: when the caller already knows the delta's size (the
    ingest paths collect it pre-write), small deltas are additionally
    repartitioned onto the partition columns — see SMALL_WRITE_ROWS.
    ``n_parts``: the delta's distinct partition-tuple count when the
    caller already collected it (the ingest stats job does).  Passing
    it pins the repartition width EXPLICITLY, which matters on the
    micro-commit path: a keyless ``repartition(parts)`` of a tiny delta
    is AQE-coalesced to ONE task, and that task then creates every
    dynamic-partition file SEQUENTIALLY — measured 0.8-0.9 s for a
    31-file commit on this box's `discard`-mounted ext4, the single
    largest slice of the e2e replay commit floor (r12 job trace,
    plans/r12/q306_jobtrace_before.txt).  With ``repartition(n_parts,
    parts)`` each partition value is one task and the file creates run
    in parallel."""
    parts = PARTITION_COLS[mode]
    out = versioned
    if parts and n_rows is not None and 0 < n_rows <= SMALL_WRITE_ROWS:
        if n_parts:
            out = out.repartition(n_parts, *[F.col(c) for c in parts])
        else:
            out = out.repartition(*parts)
    return out.sortWithinPartitions(*parts, "ticker", S.TS_COL[mode])


class ParquetStore:
    """Partitioned-parquet store for one (provider, exchange)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        provider: str = "EODHD",
        exchange: str = "US",
        tz: str = "America/New_York",
        observers: list | None = None,
    ):
        self.spark = spark
        self.root = root
        self.provider = provider
        self.exchange = exchange
        self.tz = tz
        # delta observers: callables (versioned_delta, mode) invoked after
        # each non-empty append with the POST-dedup delta (already
        # localCheckpoint'd — safe to aggregate without recomputation).
        # This is the hook incremental materialized views (plans/matview)
        # ride: they see exactly the rows that entered the store, once.
        self.observers = list(observers or [])

    # -- paths -----------------------------------------------------------
    def data_path(self, mode: str) -> str:
        return mode_root(self.root, mode, self.provider, self.exchange)

    def _stats(self, mode: str, by_interval: bool) -> StatsTable:
        name = "interval_stats" if by_interval else "table_stats"
        path = os.path.join(self.data_path(mode) + "__meta", name)
        keys = ["ticker", "interval"] if by_interval else ["ticker"]
        return StatsTable(self.spark, path, keys)

    # -- read ------------------------------------------------------------
    def read_all(self, mode: str) -> DataFrame | None:
        """Union-schema read: mergeSchema resolves files written before a
        column existed (the reference's ALTER TABLE ADD COLUMN evolution,
        sql_db.py:306-343, without any rewrite — old files surface the new
        column as NULL)."""
        path = self.data_path(mode)
        if not os.path.exists(path):
            return None
        try:
            return self.spark.read.option("mergeSchema", "true").parquet(path)
        except AnalysisException as e:
            # A concurrent first append (or a crash during it) can leave the
            # directory present with zero committed footers — only staging
            # debris (`_temporary`, in-flight task files).  To a reader that
            # is an empty store, not an error; the next committed batch makes
            # it readable.  Caught live by the SIGKILL crash-recovery test.
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                return None
            raise

    # -- write -----------------------------------------------------------
    def ingest_batch(self, batch: DataFrame, mode: str) -> int:
        """Returns number of rows appended.

        Schema evolution (§1.3): columns beyond the mode's declared schema
        are accepted and stored; they join the payload set for dedup /
        versioning purposes (the reference compares the incoming payload's
        own keys, sql_db.py:487-497 — extra columns are payload).
        """
        existing = self.read_all(mode)
        versioned = compute_versioned_delta(batch, existing, mode, self.tz)
        # Sever lineage BEFORE appending: versioned's plan scans the store
        # path, and writing to that path invalidates any cache over it
        # (refreshByPath) — a plain .cache() would silently recompute the
        # anti-join against the already-appended data and yield an empty
        # stats delta.  The checkpoint carries its row count as an
        # Observation, and a delta proven micro additionally comes back
        # as one Arrow table collected from the checkpointed blocks —
        # the append files and both stats merges then derive driver-side
        # (sources/microcommit.py).
        delta = materialize_micro(versioned)
        if delta.n:
            delta.write(self.data_path(mode), mode, live_tree=True)
            self._stats(mode, by_interval=False).update(
                delta.batch_stats(mode, by_interval=False)
            )
            if mode != "streaming":  # A6 interval stats: non-streaming only
                self._stats(mode, by_interval=True).update(
                    delta.batch_stats(mode, by_interval=True)
                )
            for obs in self.observers:
                obs(delta.df, mode)
        return delta.n

    # -- maintenance -----------------------------------------------------
    def compact(self, mode: str, target_file_bytes: int | None = None) -> dict:
        """Coalesce micro-batch file litter (see sources/maintenance.py)."""
        from stock_ops_spark.sources import maintenance as M

        kw = {} if target_file_bytes is None else {"target_file_bytes": target_file_bytes}
        return M.compact(self, mode, **kw)

    def retain(self, mode: str, keep_from: tuple) -> list[str]:
        """Drop partitions older than an exchange-local date bound."""
        from stock_ops_spark.sources import maintenance as M

        return M.retain(self, mode, keep_from)

    def widen_types(self, mode: str) -> dict:
        """Cast-rewrite files with conflicting physical column types."""
        from stock_ops_spark.sources import maintenance as M

        return M.widen_types(self, mode)

    # -- catalog views ---------------------------------------------------
    def table_stats(self, mode: str) -> DataFrame | None:
        return self._stats(mode, by_interval=False).read()

    def interval_stats(self, mode: str) -> DataFrame | None:
        return self._stats(mode, by_interval=True).read()

    def rebuild_stats(self, mode: str) -> None:
        """Maintenance-time heal for the stats catalog: re-aggregate the
        store (one bounded pass).  Closes the crash window where a kill
        lands after the data append but before the stats merge — the
        replay dedups the rows away, so the skipped merge never
        re-fires (see StatsTable docstring)."""
        data = self.read_all(mode)
        if data is None:
            return
        self._stats(mode, by_interval=False).rebuild(data, mode, by_interval=False)
        if mode != "streaming":
            self._stats(mode, by_interval=True).rebuild(data, mode, by_interval=True)

    def latest(self, mode: str) -> DataFrame | None:
        """O5 'current' view of the store."""
        df = self.read_all(mode)
        if df is None:
            return None
        return latest_version_view(df, S.INDEX_COLS[mode])
