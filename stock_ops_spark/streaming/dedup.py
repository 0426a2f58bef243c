"""Online (at-ingest) near-duplicate flagging.

The batch dedup pipeline (operators/dedup.py) finds near-dup pairs
WITHIN a corpus; a streaming corpus also needs each arriving micro-batch
checked AGAINST EVERYTHING ALREADY INGESTED without rescanning it.  The
standard answer is a persisted LSH band index:

- per batch: shingle → minhash signatures → banded bucket keys
- probe: new (band, bucket) keys equi-join the persisted index — only
  hash-colliding history is ever touched, never the full corpus
- score: for candidate pairs, estimated Jaccard = fraction of agreeing
  minhash components (the classic unbiased MinHash estimator) — no
  stored text needed, signatures only
- append: the batch's bands + signatures join the index

State grows O(corpus × bands) rows of 3 longs — the index is ~1% of a
text corpus and partitions on (band, bucket): at 100 TB the probe is a
shuffle of the BATCH against a bucketed index, with AQE handling hot
buckets.  Flags are advisory (estimator noise ~1/sqrt(k)); destructive
dedup downstream re-verifies exactly (jaccard_verify) on the flagged
sliver only.

Reference parity: the reference dedups exact re-sends at ingest
(`src/stockops/data/database/sql_db.py:487-497`); near-dup flagging is
part of the training-data extension surface.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.operators.dedup import (
    band_stack,
    minhash_signatures,
    shingle_sets,
)
from stock_ops_spark.streaming.foldstate import FoldStateIndex


class StreamingNearDupIndex(FoldStateIndex):
    """Persisted LSH band index with per-batch probe + append.

    Wire ``process_batch`` into ``foreachBatch`` (streaming) or call it
    directly per ingest batch.  Layout under ``root`` (each table +
    ``batch_seq``):

    - ``bands/``  (id, band, bucket) probe index
    - ``sigs/``   (id, mh_0..mh_{k-1}) signatures for scoring
    - ``flags/``  (new_id, matched_id, est_jaccard, flag_ts) advisory
      output

    A batch's three writes publish in one commit of the index's log
    (``FoldStateIndex``), so a fold that crashed before it leaves
    nothing its redelivery sees (no duplicate flags), and ``maintain``
    is one rewrite commit.

    **Single-writer assumption**: one index instance owns ``root`` for
    writes (``process_batch`` / ``maintain``) — exactly the contract a
    Structured Streaming ``foreachBatch`` sink provides; a second
    writer's commit raises ``CommitConflict``.  Reads take a snapshot
    of the log, so they may run from any process.
    """

    PARTS = ("bands", "sigs", "flags")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_n: int = 8,
    ):
        super().__init__(spark, root)
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n

    def process_batch(self, batch: DataFrame) -> int:
        """Probe ``batch`` against the index, append its signatures, and
        return the number of advisory near-dup flags written."""
        st = self.log.state()
        seq = self._next_seq(st)
        sh = shingle_sets(batch, self.id_col, self.text_col, n=self.shingle_n)
        # pinned: signatures are consumed by the probe AND the write
        sigs = minhash_signatures(sh, num_hashes=self.num_hashes).localCheckpoint(
            eager=True
        )
        stacked = band_stack(sigs, num_hashes=self.num_hashes, bands=self.bands)

        n_flags = 0
        idx = self._existing("bands", st)
        if idx is not None:
            old_sigs = self._existing("sigs", st)
            cand = (
                stacked.join(
                    idx.select(
                        F.col("id").alias("matched_id"), "band", "bucket"
                    ),
                    ["band", "bucket"],
                )
                .where(F.col("id") != F.col("matched_id"))
                .select(F.col("id").alias("new_id"), "matched_id")
                .distinct()
            )
            agree = sum(
                F.when(F.col(f"l_mh_{i}") == F.col(f"r_mh_{i}"), 1).otherwise(0)
                for i in range(self.num_hashes)
            )
            lsig = sigs.select(
                F.col("id").alias("new_id"),
                *[F.col(f"mh_{i}").alias(f"l_mh_{i}") for i in range(self.num_hashes)],
            )
            rsig = old_sigs.select(
                F.col("id").alias("matched_id"),
                *[F.col(f"mh_{i}").alias(f"r_mh_{i}") for i in range(self.num_hashes)],
            )
            flagged = (
                cand.join(lsig, "new_id")
                .join(rsig, "matched_id")
                .select(
                    "new_id",
                    "matched_id",
                    (agree / F.lit(float(self.num_hashes))).alias("est_jaccard"),
                )
                .where(F.col("est_jaccard") >= self.threshold)
                .localCheckpoint(eager=True)
            )
            n_flags = flagged.count()
        adds = []
        if n_flags:
            # flag_ts (epoch seconds at write) powers AGE-based
            # retention in maintain() — batch_seq counts batches,
            # which is not wall-clock time
            adds.append(self._append(
                "flags",
                flagged.withColumn("flag_ts", F.lit(float(time.time()))),
                seq,
            ))
        adds.append(self._append("bands", stacked, seq))
        adds.append(self._append("sigs", sigs, seq))
        self._publish_fold(st, seq, adds)
        return n_flags

    def flags(self) -> DataFrame | None:
        return self._existing("flags")

    # -- maintenance ------------------------------------------------------

    def maintain(
        self,
        target_files: int = 8,
        max_batches: int | None = None,
        trim_flags: bool = False,
        flags_max_age_s: float | None = None,
    ) -> dict[str, int]:
        """Bound the index's file count and (optionally) its age.

        ``process_batch`` appends one file set per micro-batch forever —
        the same litter debt ``ManifestStore.compact`` pays down for
        the table store.  Here the index is two flat parquet datasets, so
        maintenance is one bounded rewrite each:

        - **compaction**: when a dataset holds more part-files than
          ``target_files`` (plus slack for one in-flight batch), rewrite
          it to ``target_files`` files in ``FoldStateIndex``'s one
          rewrite commit: a crash before it leaves the old state whole,
          and a reader of the old state keeps its dirs until the next
          rewrite.
        - **retention** (``max_batches``): drop band/signature rows more
          than ``max_batches`` micro-batches old — the Redis-XTRIM analog
          for the at-ingest index.  The advisory ``flags/`` output is
          compacted but only trimmed when ``trim_flags`` is set (it is a
          downstream-consumed result, not probe state — aging it out is a
          policy decision, so it is opt-in).  At 100 TB the trim is a
          pushed-down ``batch_seq >= cutoff`` filter inside the same
          rewrite, not a second pass.
        - **age retention** (``flags_max_age_s``): drop flags older than
          the given wall-clock age — batches are not time, so a bursty
          stream needs this alongside ``max_batches``.  Uses the
          ``flag_ts`` stamp written per batch; rows predating the stamp
          (older layout) have no timestamp and age out on the first
          age-trim.  Bounded the same way: footer-stats min() probe, then
          a pushed-down filter inside the one rewrite.

        Call every N batches from ``foreachBatch`` or as a nightly job.
        Returns per-dataset file counts after maintenance.
        """
        st = self.log.state()
        # peg the cutoff to the writer's next seq, not max(file)
        cutoff = None if max_batches is None else self._next_seq(st) - max_batches
        age_cutoff = None if flags_max_age_s is None else time.time() - flags_max_age_s
        frames = {}
        for part in self.PARTS:
            part_cutoff = cutoff
            if part == "flags" and not trim_flags:
                part_cutoff = None
            part_age_cutoff = age_cutoff if part == "flags" else None
            df = self._existing(part, st)
            if df is None:
                continue
            if part_age_cutoff is not None:
                ts_col = (
                    F.coalesce(F.col("flag_ts"), F.lit(0.0))
                    if "flag_ts" in df.columns
                    else F.lit(0.0)
                )
                df = df.withColumn("flag_ts", ts_col)
            needs_trim = False
            if part_cutoff is not None:
                # footer-stats aggregation (parquet aggregate pushdown) —
                # steady-state calls with nothing to trim touch no data
                mn = df.agg(F.min("batch_seq").alias("m")).collect()[0].m
                needs_trim = mn is not None and mn < part_cutoff
            if part_age_cutoff is not None and not needs_trim:
                mn = df.agg(F.min("flag_ts").alias("m")).collect()[0].m
                needs_trim = mn is not None and mn < part_age_cutoff
            if part_cutoff is not None:
                df = df.where(F.col("batch_seq") >= F.lit(part_cutoff))
            if part_age_cutoff is not None:
                df = df.where(F.col("flag_ts") >= F.lit(part_age_cutoff))
            frames[part] = (df, needs_trim)
        return self._compact(st, frames, target_files)
