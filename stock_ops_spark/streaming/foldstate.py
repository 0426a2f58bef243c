"""Parquet states published through the commit log: the streaming fold
indexes (span, IVF, lexical, near-dup) and ``plans/matview.MatView``.

A state is a set of parquet dirs ``<root>/<part>-<hex>``; ``<root>/_log``,
a ``sources/commitlog.ManifestLog`` like the store's, says which are
live — a versioned state store plus its write-ahead log, one version
per epoch (Structured Streaming, SIGMOD'18):

- **fold**: each part's rows go to a fresh dir, and ONE ``try_commit``
  publishes them all, its per-dir meta carrying the batch seq.  A crash
  before it leaves only unreferenced dirs: the redelivered batch folds
  as if the crashed attempt never happened.
- **rewrite** (``maintain``, a view install): one commit adds the new
  dirs and removes the old, checkpoints the log, and deletes every
  entry of ``root`` referenced by neither the state before nor after
  it — so a removed dir outlives exactly one more rewrite (a reader of
  the older state still collects a whole generation), and crash debris
  goes the same way.
- **reads** take one snapshot, one ``spark.read.parquet(*dirs)`` per
  part; a single writer's lost ``try_commit`` raises ``CommitConflict``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.sources.commitlog import ManifestLog


class FoldState:
    """Dirs under ``root`` whose live set is the fold of ``root/_log``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log = ManifestLog(os.path.join(root, "_log"))

    @staticmethod
    def _dirs(st: dict, part: str) -> list[str]:
        return [d for d in st["dirs"] if d.rsplit("-", 1)[0] == part]

    def _existing(self, part: str, st: dict | None = None) -> DataFrame | None:
        """``part``'s rows in ``st`` (default: the current snapshot)."""
        st = st or self.log.state()
        dirs = [os.path.join(self.root, d) for d in self._dirs(st, part)]
        return self.spark.read.parquet(*dirs) if dirs else None

    def _write(self, part: str, df: DataFrame) -> str:
        """Write ``df`` to a fresh dir of ``part``; returns its name."""
        name = f"{part}-{uuid.uuid4().hex[:12]}"
        df.write.parquet(os.path.join(self.root, name))
        return name

    def _publish(self, st: dict, meta: dict, removes=()) -> None:
        """Commit ``meta``'s dirs ({dir: meta}; re-adding a live dir only
        updates its meta) less ``removes`` as the version after ``st``."""
        self.log.try_commit(st["version"] + 1, {
            "adds": list(meta), "removes": list(removes), "meta": meta,
        })

    def _rewrite(self, st: dict, meta: dict, removes=()) -> dict:
        """``_publish``, checkpoint the log, delete what neither ``st`` nor
        the new state references; returns the new state."""
        self._publish(st, meta, removes)
        after = self.log.state()
        self.log.checkpoint(
            after["version"], {"adds": after["dirs"], "meta": after["meta"]}
        )
        keep = {"_log", *st["dirs"], *after["dirs"]}
        for name in set(os.listdir(self.root)) - keep:
            p = os.path.join(self.root, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        return after

    def _file_count(self, part: str, st: dict | None = None) -> int:
        """Data files in ``part``'s live dirs (the maintain trigger)."""
        st = st or self.log.state()
        return sum(
            f.endswith(".parquet") for d in self._dirs(st, part)
            for f in os.listdir(os.path.join(self.root, d))
        )


class FoldStateIndex(FoldState):
    """Base for the streaming fold indexes.  Subclasses set ``PARTS``
    (the state table names) and implement ``process_batch``."""

    PARTS: tuple[str, ...] = ()

    @staticmethod
    def _next_seq(st: dict) -> int:
        """One past the highest batch seq the live dirs record."""
        return 1 + max((m["seq"] for m in st["meta"].values()), default=-1)

    def _append(self, part: str, df: DataFrame, seq: int) -> str:
        return self._write(part, df.withColumn("batch_seq", F.lit(seq)))

    def _publish_fold(self, st: dict, seq: int, dirs: list[str]) -> None:
        self._publish(st, {d: {"seq": seq} for d in dirs})

    def _compact_df(self, part: str, df: DataFrame) -> DataFrame:
        """Hook: transform ``part``'s rows during a maintain rewrite
        (e.g. merge log-structured partials).  Default: identity."""
        return df

    def maintain(self, target_files: int = 8) -> dict[str, int]:
        """Bound the per-batch file litter: rewrite any part holding
        more part-files than ``target_files`` (plus one in-flight batch
        of slack) down to ``target_files``, in one rewrite commit.  No
        retention knob: the state IS the fold memory.  Returns per-part
        file counts after maintenance."""
        st = self.log.state()
        return self._compact(
            st, {p: (self._existing(p, st), False) for p in self.PARTS},
            target_files,
        )

    def _compact(self, st: dict, frames: dict, target_files: int) -> dict[str, int]:
        """Rewrite each part of ``frames`` ({part: (rows, force)}) whose
        live dirs hold more than ``target_files + 1`` part-files, or
        when forced, into one fresh dir (through ``_compact_df``);
        publish them as one rewrite.  Returns per-part file counts."""
        meta, removes = {}, []
        for part, (df, force) in frames.items():
            n = self._file_count(part, st)
            if df is None or (n <= target_files + 1 and not force):
                continue
            out = self._compact_df(part, df).repartition(target_files)
            meta[self._write(part, out)] = {"seq": self._next_seq(st) - 1}
            removes += self._dirs(st, part)
        if meta:
            st = self._rewrite(st, meta, removes)
        return {part: self._file_count(part, st) for part in self.PARTS}


__all__ = ["FoldState", "FoldStateIndex"]
