"""Streaming IVF: at-ingest cell assignment folded into the batch IVF
artifact (VERDICT r10 #6 — the vector twin of the span unification).

Contracts pinned:

- stream N delta batches over an artifact-seeded index → the state
  EQUALS batch-mode ``ivf_index_cached`` append over the union, exactly
  (same frozen quantizer, same fingerprints, same cells);
- identical re-delivery folds to nothing; a changed vector raises;
- ``publish_artifact`` lands the streamed state at the batch family's
  versioned paths, so ``ivf_index_cached`` serves WARM (zero
  assignment work) right after streaming ingest;
- a fold killed before its publish leaves nothing its redelivery
  sees: the redelivered batch refolds — state equals the never-crashed
  run;
- recall is re-measurable from the served state (probe-all == 1.0).
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from stock_ops_spark.operators import ivf as IVF
from stock_ops_spark.streaming.ivf import StreamingIVFIndex, from_artifact

pytestmark = pytest.mark.usefixtures("spark")

DIM = 8


def _vectors(n: int, seed: int = 3, base_id: int = 0):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        mode = i % 4
        base = [0.0] * DIM
        base[mode * 2] = 1.0
        base[mode * 2 + 1] = -1.0
        rows.append(
            (base_id + i, [round(b + rng.uniform(-0.3, 0.3), 4) for b in base])
        )
    return rows


def _write(spark, rows, path):
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _aset(df):
    return {(r.vec_id, r.cid, r.fp) for r in df.select("vec_id", "cid", "fp").collect()}


def test_stream_equals_batch_append(spark, tmp_path):
    rows = _vectors(80)
    src = str(tmp_path / "emb.parquet")
    v1 = _write(spark, rows, src)
    cache = str(tmp_path / "cache_batch")
    idx_v1 = IVF.ivf_index_cached(
        v1, src, k_cells=4, iters=2, dim=DIM, cache_dir=cache
    )
    sidx = from_artifact(spark, str(tmp_path / "sivf"), idx_v1)

    delta1 = _vectors(30, seed=11, base_id=500)
    delta2 = _vectors(30, seed=12, base_id=900)
    n1 = sidx.process_batch(
        spark.createDataFrame(delta1, "vec_id long, embedding array<float>")
    )
    n2 = sidx.process_batch(
        spark.createDataFrame(delta2, "vec_id long, embedding array<float>")
    )
    assert (n1, n2) == (30, 30)

    # batch twin: append path over the union against the SAME frozen fit
    v2 = _write(spark, rows + delta1 + delta2, src)
    idx_v2 = IVF.ivf_index_cached(
        v2, src, k_cells=4, iters=2, dim=DIM, cache_dir=cache
    )
    st = sidx.state()
    assert _aset(st["assign"]) == _aset(idx_v2["assign"])
    assert [
        tuple(r.centroid) for r in st["centroids"].orderBy("cid").collect()
    ] == [
        tuple(r.centroid) for r in idx_v2["centroids"].orderBy("cid").collect()
    ]


def test_redelivery_noop_and_changed_raises(spark, tmp_path):
    rows = _vectors(40)
    src = str(tmp_path / "emb.parquet")
    v1 = _write(spark, rows, src)
    cache = str(tmp_path / "cache")
    idx = IVF.ivf_index_cached(
        v1, src, k_cells=4, iters=2, dim=DIM, cache_dir=cache
    )
    sidx = from_artifact(spark, str(tmp_path / "sivf"), idx)
    delta = _vectors(20, seed=9, base_id=500)
    b = spark.createDataFrame(delta, "vec_id long, embedding array<float>")
    assert sidx.process_batch(b) == 20
    before = _aset(sidx.state()["assign"])
    assert sidx.process_batch(b) == 0  # identical re-delivery
    assert _aset(sidx.state()["assign"]) == before
    # the seeded BASE rows are also recognized as already-assigned
    assert sidx.process_batch(v1) == 0
    # a changed embedding under a known vec_id refuses
    mut = [(delta[0][0], [round(x + 1.0, 4) for x in delta[0][1]])]
    with pytest.raises(ValueError, match="append-only"):
        sidx.process_batch(
            spark.createDataFrame(mut, "vec_id long, embedding array<float>")
        )


def test_publish_serves_batch_consumers_warm(spark, tmp_path):
    rows = _vectors(60)
    src = str(tmp_path / "emb.parquet")
    v1 = _write(spark, rows, src)
    cache = str(tmp_path / "cache")
    idx_v1 = IVF.ivf_index_cached(
        v1, src, k_cells=4, iters=2, dim=DIM, cache_dir=cache
    )
    sidx = from_artifact(spark, str(tmp_path / "sivf"), idx_v1)
    delta = _vectors(25, seed=5, base_id=500)
    # the corpus advances to v2 (the streamed rows land in the source)
    v2 = _write(spark, rows + delta, src)
    sidx.process_batch(
        spark.createDataFrame(delta, "vec_id long, embedding array<float>")
    )
    served = sidx.publish_artifact(src, k_cells=4, iters=2, dim=DIM,
                                   cache_dir=cache)
    # the batch entry point now hits the COMPLETE version: no fold, no
    # assignment work (the stats counter is never touched)
    stats: dict = {}
    idx_v2 = IVF.ivf_index_cached(
        v2, src, k_cells=4, iters=2, dim=DIM, cache_dir=cache, stats=stats
    )
    assert "vectors_assigned" not in stats
    assert _aset(idx_v2["assign"]) == _aset(served["assign"])
    # recall is re-measurable from the served state: probing every
    # cell must be exact (the q330 loop's post-publish re-measure)
    from stock_ops_spark.operators.similarity import ivf_recall_curve

    tagged = v2.join(
        idx_v2["assign"].select("vec_id", "cid"), "vec_id"
    )
    queries = v2.where(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    full = ivf_recall_curve(
        tagged, queries, k=3, nprobes=(4,), cluster_col="cid"
    ).collect()[0]
    assert float(full.recall_at_k) == 1.0


def test_crash_before_publish_refolds(spark, tmp_path):
    rows = _vectors(40)
    src = str(tmp_path / "emb.parquet")
    v1 = _write(spark, rows, src)
    cache = str(tmp_path / "cache")
    idx = IVF.ivf_index_cached(
        v1, src, k_cells=4, iters=2, dim=DIM, cache_dir=cache
    )
    root = str(tmp_path / "sivf")
    sidx = from_artifact(spark, root, idx)
    delta = _vectors(20, seed=9, base_id=500)
    b = spark.createDataFrame(delta, "vec_id long, embedding array<float>")
    clean = from_artifact(spark, str(tmp_path / "clean"), idx)
    clean.process_batch(b)
    # the crash: the fold's write landed but its commit didn't
    with pytest.MonkeyPatch.context() as m:
        def killed(*_a, **_k):
            raise RuntimeError("killed before the publish")

        m.setattr(sidx.log, "try_commit", killed)
        with pytest.raises(RuntimeError, match="killed"):
            sidx.process_batch(b)

    sidx2 = from_artifact(spark, root, idx)  # fresh process, redelivery
    assert sidx2.process_batch(b) == 20  # refolds (not anti-joined out)
    assert _aset(sidx2.state()["assign"]) == _aset(clean.state()["assign"])
