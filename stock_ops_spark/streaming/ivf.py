"""Online (at-ingest) IVF cell assignment over the SAME state the batch
IVF artifact persists — one state, two write paths (VERDICT r10 #6; the
vector twin of ``streaming/spans.py``'s span unification).

The batch artifact (``operators/ivf.py::ivf_index_cached``) keeps two
tables: ``centroids`` (the coarse quantizer, FROZEN across appends —
the FAISS/ScaNN discipline: train offline, assign online) and
``assign`` (vec_id, cid, fp).  Embeddings arriving through streaming
ingest used to wait for the next batch-path version refresh before they
were probeable; this index folds each micro-batch's ±delta into the
same ``assign`` table at ingest:

- fresh detection is the artifact's own fingerprint discipline
  (``ivf._fp``: md5 over the element strings, NULL elements encoded):
  an at-least-once re-delivery of an identical vector folds to
  NOTHING, a CHANGED vector under a known vec_id raises — in-place
  rewrites are the batch path's job (its fingerprint join retracts and
  reassigns them).
- assignment of the fresh rows is ``ivf.assign_table`` against the
  frozen quantizer — one map-side codegen pass (centroid literals, no
  join, no shuffle), bit-identical to the batch append path's
  assignment, so N streamed batches leave ``assign`` EXACTLY equal to
  batch-mode ``ivf_index_cached`` over the union (pinned by test).
- one commit per batch on the index's log, crash debris that readers
  never see, and maintain compaction come from ``FoldStateIndex`` —
  the span index's recovery contract.

``publish_artifact`` lands the streamed state at the exact versioned
paths ``ivf_index_cached`` computes for the corpus's CURRENT version
(same family digest incl. the quantizer generation marker, same atomic
publish), so q321/q322 serve WARM right after streaming ingest — no
rebuild, no second state.  Re-measure recall after publishing
(``operators/similarity.ivf_recall_curve`` over the served assignment,
ground truth from ``exact_topk_cached``) and feed
``plans/sizing.ivf_nprobe`` / ``ivf_refresh_needed`` — the frozen
quantizer drifts as the streamed distribution moves, and the streaming
path must close the same loop the batch path does (q330).

Cost shape per micro-batch: ONE fold job (fingerprint anti-join against
the state — the only state read, no corpus rescan) + ONE append of the
assigned fresh rows.  Reference parity: none (training-data extension
surface; the batch twins are q24/q321/q322/q330).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark.localrel import local_relation
from stock_ops_spark.operators.ivf import _fp, assign_table
from stock_ops_spark.streaming.foldstate import FoldStateIndex


class StreamingIVFIndex(FoldStateIndex):
    """Persisted streaming cell-assignment state for a FROZEN coarse
    quantizer.  Wire ``process_batch`` into ``foreachBatch`` or call it
    per ingest batch; layout under ``root``: ``assign/`` (the batch
    artifact's table + ``batch_seq``).  **Single-writer contract** as
    in ``StreamingSpanIndex``."""

    PARTS = ("assign",)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        centroids: list[list[float]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        super().__init__(spark, root)
        #: the frozen coarse quantizer (k x dim driver-side lists —
        #: bounded by the IVF contract, same shape ivf_index_cached
        #: collects via _load_centroid_rows)
        self.centroids = [list(map(float, c)) for c in centroids]
        self.id_col = id_col
        self.vec_col = vec_col

    def process_batch(self, batch: DataFrame) -> int:
        """Fold a micro-batch of (id, embedding) rows: detect fresh
        vectors by fingerprint, assign them against the frozen
        quantizer, append.  Returns the number of vectors assigned
        (0 for an identical re-delivery).  Two Spark jobs."""
        from pyspark.sql import Observation

        st = self.log.state()
        seq = self._next_seq(st)
        fps = batch.select(
            F.col(self.id_col).alias("vec_id"),
            _fp(self.vec_col).alias("fp"),
        )
        old = self._existing("assign", st)
        if old is not None:
            obs = Observation()
            fold = (
                fps.join(
                    old.select("vec_id", F.col("fp").alias("__old_fp")),
                    "vec_id",
                    "left_outer",
                )
                .where(
                    F.col("__old_fp").isNull()
                    | (F.col("__old_fp") != F.col("fp"))
                )
                .observe(
                    obs,
                    F.sum(
                        F.col("__old_fp").isNotNull().cast("long")
                    ).alias("n_changed"),
                )
                .localCheckpoint(eager=True)
            )
            if obs.get["n_changed"]:
                raise ValueError(
                    "vec_id re-delivered with a different embedding: the "
                    "streaming IVF index is append-only; rewrite the "
                    "corpus through ivf_index_cached instead"
                )
            fresh_ids = fold.select("vec_id")
            fresh = batch.join(
                fresh_ids.withColumnRenamed("vec_id", self.id_col),
                self.id_col,
                "left_semi",
            )
        else:
            fresh = batch
        add = assign_table(fresh, self.centroids, self.id_col, self.vec_col)
        obs_n = Observation()
        d = self._append(
            "assign", add.observe(obs_n, F.count(F.lit(1)).alias("n")), seq
        )
        self._publish_fold(st, seq, [d])
        return int(obs_n.get["n"])

    def state(self) -> dict[str, DataFrame] | None:
        """{"centroids", "assign"} in the batch artifact's shape
        (``batch_seq`` dropped), or None before the first batch."""
        a = self._existing("assign")
        if a is None:
            return None
        cent = local_relation(
            self.spark,
            [(i, c) for i, c in enumerate(self.centroids)],
            "cid int, centroid array<double>",
        )
        return {
            "centroids": cent,
            "assign": a.select("vec_id", "cid", "fp"),
        }

    def publish_artifact(
        self,
        source_path: str,
        k_cells: int,
        iters: int = 3,
        dim: int | None = None,
        cache_dir: str | None = None,
    ) -> dict[str, DataFrame]:
        """Publish the streamed state at the exact versioned paths
        ``ivf_index_cached`` computes for ``source_path``'s CURRENT
        version and quantizer generation — idempotent per version; the
        next ``ivf_index_cached`` call (q321/q322/q330) hits the
        complete version and serves WARM with zero assignment work.
        The caller owns the claim that ``self.centroids`` IS the
        family's frozen quantizer (seed the index from the artifact —
        see ``from_artifact``); publishing a foreign quantizer under
        the family digest would poison every consumer."""
        from stock_ops_spark.operators import artifacts
        from stock_ops_spark.operators.ivf import _generation

        st = self.state()
        if st is None:
            raise ValueError("no batches ingested yet: nothing to publish")
        if cache_dir is None:
            cache_dir = artifacts.default_cache_dir()
        famraw = (
            f"v1|{os.path.abspath(source_path)}|k={k_cells}|iters={iters}"
            f"|dim={dim}|{self.id_col}|{self.vec_col}"
        )
        gen = _generation(cache_dir, artifacts.cache_key(famraw))
        if gen:
            famraw += f"|gen={gen}"
        fam = artifacts.cache_key(famraw)
        ver = artifacts.cache_key(artifacts.source_identity(source_path))
        paths = {
            s.split(".")[1]: artifacts.versioned_path(
                cache_dir, "ivf", fam, ver, s
            )
            for s in (".centroids.parquet", ".assign.parquet")
        }
        os.makedirs(cache_dir, exist_ok=True)
        for k, p in paths.items():
            if not os.path.isdir(p):
                artifacts.publish(st[k], p)
        return {k: self.spark.read.parquet(p) for k, p in paths.items()}


def from_artifact(
    spark: SparkSession,
    root: str,
    index: dict[str, DataFrame],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingIVFIndex:
    """Seed a StreamingIVFIndex from an ``ivf_index_cached`` artifact:
    the FROZEN quantizer becomes the index's, and the artifact's
    ``assign`` table folds in as the initial state (seq 0, one commit
    of the index's log) — so the streamed state is always the FULL
    corpus assignment, publishable back to the artifact family, and a
    re-streamed base row is recognized as already-assigned rather than
    re-folded.  The quantizer must be the family's own —
    ``publish_artifact`` under a foreign quantizer would poison every
    consumer."""
    from stock_ops_spark.operators.ivf import _load_centroid_rows

    idx = StreamingIVFIndex(
        spark, root, _load_centroid_rows(index["centroids"]),
        id_col=id_col, vec_col=vec_col,
    )
    st = idx.log.state()
    if not idx._dirs(st, "assign"):
        seq = idx._next_seq(st)
        rows = index["assign"].select("vec_id", "cid", "fp")
        idx._publish_fold(st, seq, [idx._append("assign", rows, seq)])
    return idx


__all__ = ["StreamingIVFIndex", "from_artifact"]
