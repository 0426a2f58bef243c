"""Online (at-ingest) lexical indexing over the SAME state the batch
BM25 artifact persists — one state, two write paths (r11; the retrieval
twin of the span unification r10 and the IVF unification r11).

The batch artifact (``operators/lexical.py::lexical_stats_cached``)
keeps the three tables every lexical index keeps: ``postings`` (id,
term, tf), ``dl`` (id, fp, dl — the fp is the rewrite detector) and
``df`` (term, df).  Documents arriving through streaming ingest used to
wait for the next batch-path version refresh before they were
retrievable; this index folds each micro-batch's ±delta at ingest:

- ``postings`` and ``dl`` are append-only: each batch appends only its
  FRESH docs' rows (fingerprint anti-join against the state — an
  at-least-once re-delivery of an identical document folds to
  NOTHING; a CHANGED text under a known doc_id raises, in-place
  rewrites being the batch path's job, whose fingerprint join retracts
  through the stored postings).
- ``df`` is append-only PARTIALS (term, df, batch_seq): per batch, the
  distinct-doc count of the batch's fresh postings per term.  Because
  the stream is append-only and fresh-filtered, every (id, term) pair
  lands in exactly one partial, so the read view
  ``groupBy(term).sum(df)`` equals ``doc_frequency`` over the full
  postings EXACTLY — the log-structured-merge shape; ``maintain()``
  compacts partials without changing the view.

Tokenization contract is exactly q278/q303's (lowercase, split on
``[^a-z]+``, drop empties), so BM25 served from the STREAMED state is
bit-identical to the inline pipeline and the batch artifact — q332
pins it under the DuckDB HUGEINT oracle end-to-end.

``publish_artifact`` lands the state at ``lexical_stats_cached``'s
exact versioned paths for the corpus's CURRENT version, so
q278/q303/q310/q312-style consumers serve WARM right after streaming
ingest — no rebuild, no second state.

One commit per batch on the index's log and compaction come from
``FoldStateIndex`` (the span index's recovery contract).  Cost shape
per micro-batch: ONE fold job (fingerprint anti-join against dl — the
only state read; never a corpus rescan), the postings write (the
batch's one full materialization; its fresh dir reads back for the df
partial and dl), the df write, and the dl write — four driver actions.
**Single-writer contract** as in ``StreamingSpanIndex``; the read-back
is the batch's own dir, so it holds exactly this batch's postings
(``tests/test_streaming_lexical.py`` pins its id set against the
fingerprint frame).

Reference parity: none (training-data extension surface; the batch
twins are q278/q310).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.operators.lexical import lexical_stats
from stock_ops_spark.streaming.foldstate import FoldStateIndex


class StreamingLexicalIndex(FoldStateIndex):
    """Persisted streaming lexical state (postings / dl / df partials)
    with per-batch ±delta fold.  Layout under ``root``: the batch
    artifact's three tables, each + ``batch_seq``."""

    PARTS = ("postings", "dl", "df")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        super().__init__(spark, root)
        self.id_col = id_col
        self.text_col = text_col

    def process_batch(self, batch: DataFrame) -> int:
        """Fold a micro-batch: detect fresh docs by text fingerprint,
        tokenize ONLY them — and only ONCE: the postings append is the
        sole tokenize pass; the df partial AND the dl table both derive
        from the read-back of that write's fresh dir.  Returns the
        number of fresh docs folded (0 for an identical re-delivery).
        Four driver actions warm (checkpoint + three writes)."""
        from pyspark.sql import Observation

        st = self.log.state()
        seq = self._next_seq(st)
        fps = batch.select(
            F.col(self.id_col).alias("id"),
            F.md5(F.col(self.text_col)).alias("fp"),
        )
        old_dl = self._existing("dl", st)
        n_fresh: int
        if old_dl is not None:
            obs = Observation()
            fold = (
                fps.join(
                    old_dl.select("id", F.col("fp").alias("__old_fp")),
                    "id",
                    "left_outer",
                )
                .observe(
                    obs,
                    F.sum(
                        (
                            F.col("__old_fp").isNotNull()
                            & (F.col("__old_fp") != F.col("fp"))
                        ).cast("long")
                    ).alias("n_changed"),
                    F.sum(
                        F.col("__old_fp").isNull().cast("long")
                    ).alias("n_fresh"),
                )
                .where(F.col("__old_fp").isNull())
                .localCheckpoint(eager=True)
            )
            if obs.get["n_changed"]:
                raise ValueError(
                    "doc_id re-delivered with different text: the "
                    "streaming lexical index is append-only; rewrite "
                    "the corpus through lexical_stats_cached instead"
                )
            n_fresh = int(obs.get["n_fresh"] or 0)
            fresh_fps = fold.select("id", "fp")  # checkpointed: no recompute
            fresh_docs = batch.join(
                F.broadcast(
                    fold.select(F.col("id").alias(self.id_col))
                ),
                self.id_col,
                "left_semi",
            )
        else:
            fresh_fps = fps
            fresh_docs = batch
            n_fresh = -1  # counted on the dl write below

        add_postings = lexical_stats(
            fresh_docs, self.id_col, self.text_col
        )[0]
        posts_dir = self._append("postings", add_postings, seq)
        # the fresh dir, read back, feeds the df partial without
        # re-tokenizing
        posts_fresh = self.spark.read.parquet(
            os.path.join(self.root, posts_dir)
        )
        partial = posts_fresh.groupBy("term").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
        adds = [posts_dir, self._append("df", partial, seq)]
        # dl = Σ tf over the just-written postings (postings are
        # (id, term)-unique with tf = occurrence count, so the sum IS
        # the doc length) — derived from the same read-back as the df
        # partial, so each batch is TOKENIZED ONCE instead of
        # twice; zero-token docs keep their dl=0 row via the left join
        # from the fingerprint frame (they are dedup memory too).
        add_dl = fresh_fps.join(
            posts_fresh.groupBy("id").agg(
                F.sum("tf").cast("bigint").alias("dl")
            ),
            "id",
            "left",
        ).fillna({"dl": 0})
        obs_dl = Observation()
        adds.append(self._append(
            "dl", add_dl.observe(obs_dl, F.count(F.lit(1)).alias("n")), seq
        ))
        self._publish_fold(st, seq, adds)
        return n_fresh if n_fresh >= 0 else int(obs_dl.get["n"])

    def _df_view(self, st: dict) -> DataFrame | None:
        d = self._existing("df", st)
        if d is None:
            return None
        return d.groupBy("term").agg(
            F.sum("df").cast("bigint").alias("df")
        )

    def state(self) -> dict[str, DataFrame] | None:
        """The batch artifact's three tables from the streamed state
        (``batch_seq`` dropped, df partials merged), or None before the
        first batch."""
        st = self.log.state()
        dl = self._existing("dl", st)
        if dl is None:
            return None
        posts = self._existing("postings", st)
        return {
            "postings": posts.select("id", "term", "tf"),
            "dl": dl.select("id", "fp", "dl"),
            "df": self._df_view(st),
        }

    def _compact_df(self, part: str, df: DataFrame) -> DataFrame:
        """maintain() hook: the df rewrite MERGES partials (per term:
        sum df, max batch_seq) — a pure compaction of the
        log-structured table that leaves the read view unchanged."""
        if part != "df":
            return df
        return df.groupBy("term").agg(
            F.sum("df").cast("bigint").alias("df"),
            F.max("batch_seq").cast("bigint").alias("batch_seq"),
        )

    def publish_artifact(
        self, source_path: str, cache_dir: str | None = None
    ) -> dict[str, DataFrame]:
        """Publish the streamed state into ``lexical_stats_cached``'s
        versioned artifact cache for ``source_path``'s CURRENT version
        (same family digest, same atomic publish) — q278/q310-style
        consumers then serve warm with no rebuild.  Idempotent per
        version."""
        from stock_ops_spark.operators import artifacts

        st = self.state()
        if st is None:
            raise ValueError("no batches ingested yet: nothing to publish")
        if cache_dir is None:
            cache_dir = artifacts.default_cache_dir()
        famraw = (
            f"v1|{os.path.abspath(source_path)}|{self.id_col}"
            f"|{self.text_col}"
        )
        fam = artifacts.cache_key(famraw)
        ver = artifacts.cache_key(artifacts.source_identity(source_path))
        suffixes = [".postings.parquet", ".dl.parquet", ".df.parquet"]
        paths = {
            s.split(".")[1]: artifacts.versioned_path(
                cache_dir, "lexical", fam, ver, s
            )
            for s in suffixes
        }
        os.makedirs(cache_dir, exist_ok=True)
        for k, p in paths.items():
            if not os.path.isdir(p):
                artifacts.publish(st[k], p)
        return {k: self.spark.read.parquet(p) for k, p in paths.items()}


__all__ = ["StreamingLexicalIndex"]
