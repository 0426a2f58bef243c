"""Online (at-ingest) duplicated-SPAN flagging over the SAME state the
batch span artifact persists — one state, two write paths (VERDICT r9
directive #2).

r9's index kept its own (gram, batch_seq) parquet next to the batch
artifact's postings/docstats/gramstats for the same corpus: a batch
rewrite after streaming ingest paid a full artifact rebuild and the two
states could drift.  This rewrite makes the streaming path maintain the
batch artifact's THREE TABLES directly, folded per micro-batch with the
lexical/IVF ±delta discipline:

- ``postings``  (doc_id, p, gram, batch_seq) — append-only: each batch
  appends the positioned 4-grams of its FRESH docs only.
- ``docstats``  (doc_id, fp, n_toks, batch_seq) — append-only; the fp
  is the same rewrite detector ``span_state_delta`` uses, so an
  at-least-once re-delivery of an identical document is recognized and
  contributes NOTHING (no postings, no incidence increment).
- ``gramstats`` — append-only PARTIAL aggregates
  (gram, nd, keep_doc, batch_seq): per batch, the distinct-doc count
  and min doc of the batch's fresh postings.  Because the stream is
  append-only and fresh-doc-filtered, every (gram, doc) pair appears in
  exactly one partial, so the read view
  ``groupBy(gram).agg(sum(nd), min(keep_doc))`` equals
  ``operators/spans.gram_stats`` over the full postings EXACTLY — the
  log-structured-merge shape; ``maintain()`` compacts partials without
  changing the view.

Flag semantics (per batch, ADVICE r9 fix folded in): a batch gram
occurrence (gram g, doc d) is DUPLICATED iff some OTHER distinct doc of
the corpus-so-far holds g — i.e. ``nd >= 2`` counting DISTINCT doc_ids
over state ∪ batch.  With (nd, keep_doc) from the state view and the
batch's own distinct-doc count this is decidable without a postings
self-join::

    state_nd >= 2  OR  (state_nd == 1 AND keep_doc != d)  OR  batch_nd >= 2

(the three clauses are exactly equivalent to union-distinct nd >= 2:
if none hold, the only possible holder besides d is d itself).  A
re-delivered document therefore no longer probes against its own prior
grams — the r9 behavior the advice flagged — while the documented
equivalence with batch-mode ``duplicated_spans`` restricted to the
batch's docs now holds under at-least-once delivery too.

Because the state IS the batch artifact's schema, ``publish_artifact``
can hand the corpus's current span state to ``span_state_cached``'s
cache (atomic publish under the same family/version digests), so
q318/q319/q320 serve WARM right after streaming ingest — no rebuild,
no second state.

Like every online flagger, the check is one-sided: the PRIOR holder of
a gram was not flagged at its own ingest (its nd was 1 then) — history
is never rewritten; batch jobs (q318) re-measure both sides from the
same tables.  **Single-writer contract** as in ``StreamingNearDupIndex``
(streaming/dedup.py); identical re-delivery is tolerated (at-least-once
safe), but a CHANGED text under an existing doc_id raises — in-place
rewrites are the batch path's job (``span_state_cached`` folds them).

**One commit per batch** (ADVICE r10): the four per-batch writes
(flags, docstats, postings, gramstats) are not atomic as a group, and
no write order survives a crash+redelivery on its own — docstats-first
makes the fp dedup anti-join every redelivered doc out so its postings
and gramstats partials are never written; partials-first double-counts
nd.  So each table's rows go to a fresh dir, and one commit of the
index's log publishes all four (``streaming/foldstate.py``): a crash
before it leaves nothing a reader or the redelivery check sees, and
the redelivered batch folds as if the crashed attempt never happened.

Reference parity: none (training-data extension surface; the batch
twins are q318/q319/q320).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.localrel import local_relation
from stock_ops_spark.operators.spans import (
    NGRAM,
    _islands,
    doc_stats,
    gram_postings,
)
from stock_ops_spark.streaming.foldstate import FoldStateIndex


class StreamingSpanIndex(FoldStateIndex):
    """Persisted span-dedup state with per-batch probe + ±delta fold.

    Wire ``process_batch`` into ``foreachBatch`` (streaming) or call it
    directly per ingest batch.  Layout under ``root``: the batch
    artifact's three state tables (each + ``batch_seq``) plus
    ``flags/`` (per-doc span stats of flagged docs, q318's columns +
    ``batch_seq``).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        min_dup_frac: float = 0.0,
    ):
        super().__init__(spark, root)
        self.id_col = id_col
        self.text_col = text_col
        #: advisory threshold: only docs with dup_frac >= this are
        #: written to flags/ (0.0 = every doc with any duplicated span)
        self.min_dup_frac = min_dup_frac

    PARTS = ("postings", "docstats", "gramstats", "flags")

    def _gramstats_view(self, st: dict) -> DataFrame | None:
        """(gram, nd, keep_doc) — the partials' merge, exactly
        ``gram_stats`` over the state postings."""
        gs = self._existing("gramstats", st)
        if gs is None:
            return None
        return gs.groupBy("gram").agg(
            F.sum("nd").cast("bigint").alias("nd"),
            F.min("keep_doc").alias("keep_doc"),
        )

    def state(self) -> dict[str, DataFrame] | None:
        """The batch artifact's three tables from the streamed state
        (postings, docstats, gramstats — ``batch_seq`` dropped,
        partials merged), or None before the first batch."""
        st = self.log.state()
        posts = self._existing("postings", st)
        ds = self._existing("docstats", st)
        gs = self._gramstats_view(st)
        if ds is None:
            return None
        if posts is None:  # all batches too short to emit grams
            posts = local_relation(
                self.spark, [], "doc_id long, p bigint, gram string"
            )
            gs = local_relation(
                self.spark, [], "gram string, nd bigint, keep_doc long"
            )
        return {
            "postings": posts.select("doc_id", "p", "gram"),
            "docstats": ds.select("doc_id", "fp", "n_toks"),
            "gramstats": gs,
        }

    def process_batch(self, batch: DataFrame) -> int:
        """Probe ``batch`` against the state, fold its fresh docs in,
        and return the number of per-doc span flags written.

        Job budget (r11, VERDICT #3): FIVE driver actions — the fold
        checkpoint (ONE join over the prior docstats decides
        fresh/stale/changed, with the batch/changed/fresh counts riding
        it as Observations), the postings write (the batch's ONLY full
        materialization — its fresh dir is read back and reused as the
        postings frame for both the gramstats partial and, on the
        no-stale common path, the probe), the gramstats write, the
        docstats write, and the flags write (count observed on the
        write); one commit then publishes the four dirs.  A batch
        containing stale (re-delivered) docs re-tokenizes inside the
        flags job — no extra action — because the probe must still
        cover them.  The r10 shape ran ~10 actions and materialized the
        postings TWICE (checkpoint + append)."""
        from pyspark.sql import Observation, Window

        st = self.log.state()
        seq = self._next_seq(st)
        # not checkpointed (r10 trim): each reuse recomputes one cheap
        # map-side md5+split over the batch — less than a checkpoint
        # job's fixed cost at micro-batch sizes
        ds_batch = doc_stats(batch, self.id_col, self.text_col)
        old_ds = self._existing("docstats", st)
        if old_ds is not None:
            # at-least-once tolerance: identical re-delivery (same fp)
            # folds to nothing; a CHANGED text under a known doc_id is
            # an in-place rewrite — the batch path's job, refuse here.
            # Both observations ride the checkpoint job: the pre-filter
            # one counts the batch and the changed docs, the post-filter
            # one the fresh docs (stale = batch - fresh).
            obs_all = Observation()
            obs_fresh = Observation()
            fold = (
                ds_batch.join(
                    old_ds.select("doc_id", F.col("fp").alias("__old_fp")),
                    "doc_id",
                    "left_outer",
                )
                .observe(
                    obs_all,
                    F.count(F.lit(1)).alias("n_batch"),
                    F.sum(
                        (
                            F.col("__old_fp").isNotNull()
                            & (F.col("__old_fp") != F.col("fp"))
                        ).cast("long")
                    ).alias("n_changed"),
                )
                .where(F.col("__old_fp").isNull())
                .observe(obs_fresh, F.count(F.lit(1)).alias("n_fresh"))
                .localCheckpoint(eager=True)
            )
            if obs_all.get["n_changed"]:
                raise ValueError(
                    "doc_id re-delivered with different text: the "
                    "streaming span index is append-only; rewrite the "
                    "corpus through span_state_cached instead"
                )
            n_stale = int(obs_all.get["n_batch"] or 0) - int(
                obs_fresh.get["n_fresh"] or 0
            )
            fresh = fold.drop("__old_fp")
        else:
            fresh = ds_batch
            n_stale = 0

        # the probe sees the pre-batch state: the snapshot's dirs only
        sv = self._gramstats_view(st)

        # ---- fold: fresh docs only (append-only state).  The postings
        # write is the batch's one full materialization; unconditional
        # writes (r10 trim): a flag-free or all-stale batch writes
        # empty schema-only parts, which the read view and maintain()
        # tolerate — cheaper than a per-batch emptiness probe job.
        posts_all = gram_postings(batch, self.id_col, self.text_col)
        fresh_posts = (
            posts_all
            if n_stale == 0
            else posts_all.join(
                F.broadcast(fresh.select("doc_id")), "doc_id", "left_semi"
            )
        )
        posts_dir = self._append("postings", fresh_posts, seq)
        posts_fresh = self.spark.read.parquet(
            os.path.join(self.root, posts_dir)
        ).drop("batch_seq")
        partial = posts_fresh.groupBy("gram").agg(
            F.countDistinct("doc_id").cast("bigint").alias("nd"),
            F.min("doc_id").alias("keep_doc"),
        )
        adds = [
            posts_dir,
            self._append("gramstats", partial, seq),
            self._append("docstats", fresh, seq),
        ]

        # ---- probe: union-distinct nd >= 2, decided from the state
        # view + the batch's own distinct-doc counts (module docstring).
        # One gram-keyed pass (r11 trim): the batch-side distinct-doc
        # count rides a window over the postings (bounded by the
        # micro-batch's docs per gram) and the verdict is decided on
        # the posting row itself — the r10 shape's distinct + groupBy +
        # re-join + semi-join chain cost four extra Exchanges per batch
        # for the same three-clause rule.  On the common path the
        # postings frame is the dir just written; with stale docs it
        # re-tokenizes the batch (the probe covers re-delivered docs
        # too — flags must equal batch-mode restricted to the batch).
        posts = (
            posts_fresh
            if n_stale == 0
            else gram_postings(batch, self.id_col, self.text_col)
        )
        wg = Window.partitionBy("gram")
        probed = posts.withColumn(
            "bnd", F.size(F.collect_set("doc_id").over(wg))
        )
        if sv is not None:
            probed = probed.join(sv, "gram", "left_outer")
        else:
            probed = probed.withColumn(
                "nd", F.lit(None).cast("bigint")
            ).withColumn("keep_doc", F.lit(None).cast("long"))
        snd = F.coalesce(F.col("nd"), F.lit(0))
        hits = probed.where(
            (snd >= 2)
            | ((snd == 1) & (F.col("keep_doc") != F.col("doc_id")))
            | (F.col("bnd") >= 2)
        ).select("doc_id", "p")
        # broadcast by contract: ntok is one row per MICRO-BATCH doc
        ntok = ds_batch.select("doc_id", F.col("n_toks").alias("n_tokens"))
        flags = (
            _islands(hits)
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_spans"),
                F.max("span_toks").cast("bigint").alias("max_span"),
                F.sum("span_toks").cast("bigint").alias("covered_tokens"),
            )
            .join(F.broadcast(ntok), "doc_id")
            .select(
                "doc_id",
                "n_spans",
                "max_span",
                "covered_tokens",
                "n_tokens",
                F.round(F.col("covered_tokens") / F.col("n_tokens"), 6).alias(
                    "dup_frac"
                ),
            )
            .where(F.col("dup_frac") >= F.lit(self.min_dup_frac))
        )
        obs_flags = Observation()
        adds.append(self._append(
            "flags", flags.observe(obs_flags, F.count(F.lit(1)).alias("n")), seq
        ))
        self._publish_fold(st, seq, adds)
        return int(obs_flags.get["n"])

    def flags(self) -> DataFrame | None:
        return self._existing("flags")

    def publish_artifact(
        self, source_path: str, cache_dir: str | None = None
    ) -> dict[str, DataFrame]:
        """Publish the streamed state into ``span_state_cached``'s
        versioned artifact cache for ``source_path``'s CURRENT version
        — same family digest (source abspath + cols + NGRAM + v-tag),
        same version digest (source identity), same atomic publish —
        so q318/q319/q320 serve warm right after streaming ingest with
        no rebuild and no second state.  Idempotent per version;
        returns {"postings", "docstats", "gramstats"} reading the
        published artifacts (exactly ``span_state_cached``'s shape)."""
        from stock_ops_spark.operators import artifacts

        st = self.state()
        if st is None:
            raise ValueError("no batches ingested yet: nothing to publish")
        if cache_dir is None:
            cache_dir = artifacts.default_cache_dir()
        famraw = (
            f"v1|{os.path.abspath(source_path)}|{self.id_col}"
            f"|{self.text_col}|{NGRAM}"
        )
        fam = artifacts.cache_key(famraw)
        ver = artifacts.cache_key(artifacts.source_identity(source_path))
        suffixes = [
            ".postings.parquet", ".docstats.parquet", ".gramstats.parquet"
        ]
        paths = {
            s.split(".")[1]: artifacts.versioned_path(
                cache_dir, "spans", fam, ver, s
            )
            for s in suffixes
        }
        os.makedirs(cache_dir, exist_ok=True)
        for k, p in paths.items():
            if not os.path.isdir(p):
                artifacts.publish(st[k], p)
        return {
            k: self.spark.read.parquet(p) for k, p in paths.items()
        }

    def _compact_df(self, part: str, df: DataFrame) -> DataFrame:
        """maintain() hook: the gramstats rewrite MERGES partials (per
        gram: sum nd, min keep_doc, max batch_seq) — a pure compaction
        of the log-structured table that leaves the read view
        unchanged."""
        if part != "gramstats":
            return df
        return df.groupBy("gram").agg(
            F.sum("nd").cast("bigint").alias("nd"),
            F.min("keep_doc").alias("keep_doc"),
            F.max("batch_seq").cast("bigint").alias("batch_seq"),
        )


__all__ = ["StreamingSpanIndex", "NGRAM"]
