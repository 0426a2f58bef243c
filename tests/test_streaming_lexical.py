"""Streaming lexical (BM25) index over the batch artifact's own state
(r11 — the retrieval twin of the span/IVF unifications).

Contracts pinned:

- stream N batches → the three state tables EQUAL batch-mode
  ``lexical_stats_cached`` over the union exactly (postings, dl, and
  the df partials' merge == ``doc_frequency``);
- BM25 served from the streamed state is row-identical to the inline
  pipeline;
- identical re-delivery folds to nothing; a changed text raises;
- ``publish_artifact`` lands at the batch family's versioned paths so
  ``lexical_stats_cached`` serves warm (no tokenize) after streaming
  ingest;
- a fold killed before its publish leaves nothing its redelivery
  sees: the redelivered batch refolds to a crash-free run's state.
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import stock_ops_spark.operators.lexical as LX
from stock_ops_spark.streaming.lexical import StreamingLexicalIndex

pytestmark = pytest.mark.usefixtures("spark")

TERMS = ["spark", "join", "vector", "merge"]


def _corpus(n: int, seed: int = 13):
    rng = random.Random(seed)
    vocab = ("spark join vector merge shuffle cache stream batch "
             "table index query scan").split()
    rows = []
    for i in range(n):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(20)]
        rows.append((i, " ".join(words)))
    return rows


def _write(spark, rows, path):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _sets(st):
    return (
        {(r.id, r.term, r.tf) for r in st["postings"].collect()},
        {(r.id, r.fp, r.dl) for r in st["dl"].collect()},
        {(r.term, r.df) for r in st["df"].collect()},
    )


def test_stream_equals_batch_and_serves_bm25(spark, tmp_path):
    rows = _corpus(30)
    src = str(tmp_path / "docs.parquet")
    full = _write(spark, rows, src)
    idx = StreamingLexicalIndex(spark, str(tmp_path / "slex"))
    for part in range(3):
        idx.process_batch(full.where(F.col("doc_id") % 3 == part))
    st = idx.state()

    # ADVICE r11: dl derives from the read-back of the batch's fresh
    # postings dir — pin that the read-back's id set never exceeds the
    # fingerprint frame's (dl table) id set, i.e. the read-back saw
    # exactly this stream's writes.
    post_ids = {r.id for r in st["postings"].select("id").distinct().collect()}
    dl_ids = {r.id for r in st["dl"].select("id").distinct().collect()}
    assert post_ids <= dl_ids

    cache = str(tmp_path / "cache_batch")
    batch = LX.lexical_stats_cached(full, src, cache_dir=cache)
    assert _sets(st) == _sets(batch)
    # df partials' merge == doc_frequency over the postings
    assert _sets(st)[2] == {
        (r.term, r.df)
        for r in LX.doc_frequency(st["postings"]).collect()
    }
    # BM25 from the STREAMED state == from the batch artifact
    a = LX.bm25_topk(spark, st["postings"], st["dl"], st["df"], TERMS, k=10)
    b = LX.bm25_topk(
        spark, batch["postings"], batch["dl"], batch["df"], TERMS, k=10
    )
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_redelivery_noop_changed_raises_and_maintain(spark, tmp_path):
    rows = _corpus(24)
    full = _write(spark, rows, str(tmp_path / "docs.parquet"))
    idx = StreamingLexicalIndex(spark, str(tmp_path / "slex"))
    b1 = full.where(F.col("doc_id") < 12)
    assert idx.process_batch(b1) == 12
    before = _sets(idx.state())
    assert idx.process_batch(b1) == 0  # identical re-delivery
    assert _sets(idx.state()) == before
    idx.maintain(target_files=2)  # compaction preserves the view
    assert _sets(idx.state()) == before
    mut = spark.createDataFrame(
        [(0, "totally different text")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="append-only"):
        idx.process_batch(mut)


def test_publish_serves_batch_consumers_warm(spark, tmp_path):
    rows = _corpus(24)
    src = str(tmp_path / "docs.parquet")
    full = _write(spark, rows, src)
    cache = str(tmp_path / "cache")
    idx = StreamingLexicalIndex(spark, str(tmp_path / "slex"))
    for part in range(2):
        idx.process_batch(full.where(F.col("doc_id") % 2 == part))
    served = idx.publish_artifact(src, cache_dir=cache)
    stats: dict = {}
    art = LX.lexical_stats_cached(full, src, cache_dir=cache, stats=stats)
    assert "docs_tokenized" not in stats  # warm hit, zero tokenize
    assert _sets(art) == _sets(
        {"postings": served["postings"], "dl": served["dl"],
         "df": served["df"]}
    )


def test_crash_before_publish_refolds(spark, tmp_path):
    rows = _corpus(24)
    full = _write(spark, rows, str(tmp_path / "docs.parquet"))
    root = str(tmp_path / "slex")
    idx = StreamingLexicalIndex(spark, root)
    clean = StreamingLexicalIndex(spark, str(tmp_path / "clean"))
    b1 = full.where(F.col("doc_id") < 12)
    b2 = full.where(F.col("doc_id") >= 12)
    for ix in (clean, idx):
        ix.process_batch(b1)
    clean.process_batch(b2)
    # the crash: every write of the fold landed, its commit did not
    with pytest.MonkeyPatch.context() as m:
        def killed(*_a, **_k):
            raise RuntimeError("killed before the publish")

        m.setattr(idx.log, "try_commit", killed)
        with pytest.raises(RuntimeError, match="killed"):
            idx.process_batch(b2)

    idx2 = StreamingLexicalIndex(spark, root)  # fresh process
    assert idx2.process_batch(b2) == 12  # refolds, not anti-joined out
    assert _sets(idx2.state()) == _sets(clean.state())
