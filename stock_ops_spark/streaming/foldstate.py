"""Shared machinery for persisted streaming fold-state indexes —
append-only parquet tables folded per micro-batch under a per-seq
commit protocol (StreamingSpanIndex, StreamingIVFIndex,
StreamingLexicalIndex, StreamingNearDupIndex).

One discipline, factored once (r11):

- **per-seq commit markers**: a batch_seq's appends are not atomic as a
  group; ``_commits/<seq>.pending`` is touched before the first append
  and renamed (atomic) to ``_commits/<seq>`` after the last.  On every
  entry point a leftover ``.pending`` identifies a crashed fold and
  that seq's rows are pruned from ALL tables before the redelivery
  check runs — the redelivered batch then folds as if the crashed
  attempt never happened.  Common path: one listdir, zero Spark jobs.
- **generation swap**: a compaction or prune replaces a table whole
  through ``operators/artifacts.install`` (write the rewrite beside
  the live dataset, rename the live one aside, rename the rewrite
  live), and every read goes through ``artifacts.heal``, so a crash
  between the renames is finished on the next touch instead of
  silently restarting the index empty.
- **marker-derived sequences** (``_next_seq``): committed markers are
  authoritative (zero jobs); legacy pre-marker state falls back to a
  one-time scan of every dataset.
- **``maintain``**: bounds per-batch file litter by rewriting any
  dataset holding more part-files than the target; subclasses hook
  ``_compact_df`` to merge log-structured partials during the rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.operators.artifacts import heal, install


class FoldStateIndex:
    """Base for persisted streaming fold states.  Subclasses set
    ``PARTS`` (the state table names under ``root``) and implement
    ``process_batch``."""

    PARTS: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._seq: int | None = None

    def _path(self, part: str) -> str:
        return os.path.join(self.root, part)

    # ---- per-seq commit markers

    def _commits_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def _mark_pending(self, seq: int) -> None:
        os.makedirs(self._commits_dir(), exist_ok=True)
        with open(os.path.join(self._commits_dir(), f"{seq}.pending"), "w"):
            pass

    def _mark_committed(self, seq: int) -> None:
        d = self._commits_dir()
        os.replace(
            os.path.join(d, f"{seq}.pending"), os.path.join(d, str(seq))
        )

    def _recover_crashed(self) -> None:
        """Prune every table of rows belonging to seqs whose fold
        crashed mid-append (a ``.pending`` marker survived) so the
        redelivered batch folds as if the crashed attempt never
        happened.  No-op (one listdir, zero jobs) when no marker
        exists — the common path."""
        try:
            names = os.listdir(self._commits_dir())
        except FileNotFoundError:
            return
        bad = [
            int(n[: -len(".pending")]) for n in names if n.endswith(".pending")
        ]
        if not bad:
            return
        for part in self.PARTS:
            df = self._existing(part)
            if df is None:
                continue
            kept = df.where(~F.col("batch_seq").isin(bad))
            install(self._path(part), kept.write.mode("overwrite").parquet)
        for s in bad:
            os.remove(os.path.join(self._commits_dir(), f"{s}.pending"))
        self._seq = None  # recompute past the pruned state

    # ---- dataset access

    def _existing(self, part: str) -> DataFrame | None:
        return heal(self.spark, self._path(part))

    def _file_count(self, part: str) -> int:
        """Data files under ``part``'s live dataset (the maintain
        trigger)."""
        return sum(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for _dp, _d, fs in os.walk(self._path(part))
            for f in fs
        )

    # ---- sequences

    def _next_seq(self) -> int:
        """Monotonic batch sequence.  The commit markers are
        authoritative: every committed seq has a marker, pending seqs
        were pruned by ``_recover_crashed`` before this runs, so
        max(marker)+1 needs no Spark job.  Legacy pre-marker state
        falls back to a one-time scan of every dataset; markers take
        over from the next fold."""
        if self._seq is None:
            highest = -1
            try:
                for n in os.listdir(self._commits_dir()):
                    if not n.endswith(".pending"):
                        highest = max(highest, int(n))
            except (FileNotFoundError, ValueError):
                highest = -1
            if highest < 0:
                # legacy state, or a legacy state whose first marker-era
                # fold crashed and was pruned: an empty marker set must
                # not alias legacy rows' seqs — scan the datasets once
                for part in self.PARTS:
                    ds = self._existing(part)
                    if ds is None:
                        continue
                    row = ds.agg(F.max("batch_seq").alias("m")).collect()[0]
                    if row.m is not None:
                        highest = max(highest, int(row.m))
            self._seq = highest + 1
        out = self._seq
        self._seq += 1
        return out

    # ---- compaction

    def _compact_df(self, part: str, df: DataFrame) -> DataFrame:
        """Hook: transform ``part``'s rows during a maintain rewrite
        (e.g. merge log-structured partials).  Default: identity."""
        return df

    def maintain(self, target_files: int = 8) -> dict[str, int]:
        """Bound the per-batch file litter: rewrite any dataset holding
        more part-files than ``target_files`` (plus one in-flight batch
        of slack) down to ``target_files`` by generation swap.
        No retention knob: the state IS the fold memory — aging rows
        out silently corrupts future folds.  Returns per-dataset file
        counts after maintenance."""
        self._recover_crashed()
        return {
            part: self._compact(part, self._existing(part), target_files)
            for part in self.PARTS
        }

    def _compact(
        self,
        part: str,
        df: DataFrame | None,
        target_files: int,
        force: bool = False,
    ) -> int:
        """Rewrite ``part`` as ``df`` (through ``_compact_df``) in
        ``target_files`` files when it holds more than
        ``target_files + 1`` part-files, or when ``force``; return its
        file count after."""
        if df is None:
            return 0
        n = self._file_count(part)
        if n <= target_files + 1 and not force:
            return n
        out = self._compact_df(part, df).repartition(target_files)
        install(self._path(part), out.write.mode("overwrite").parquet)
        return self._file_count(part)


__all__ = ["FoldStateIndex"]
