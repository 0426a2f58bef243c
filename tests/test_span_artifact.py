"""Incremental span-gram artifact (VERDICT r8 #1).

q318/q319/q320 share one corpus pass (split → positioned 4-gram explode
→ gram-incidence aggregate); ``operators/spans.py`` persists it as three
state tables and folds ±deltas on rewrite.  Contracts pinned here:

- delta refresh (append / change / remove) produces state tables EXACTLY
  equal to a full rebuild — including the min-fold's hard case, removal
  of a gram's canonical document;
- work counters bound the re-tokenized doc set to the delta;
- the cached builder serves q318/q319 frames bit-identical to the inline
  pipeline, across versions;
- the scrub ACTION conserves tokens (before − after == removed, summed
  == q319's removable_tokens), leaves untouched docs byte-identical, and
  never scrubs a canonical occurrence out of the corpus entirely.
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import stock_ops_spark.operators.spans as SP

pytestmark = pytest.mark.usefixtures("spark")


def _corpus(n: int, seed: int = 7):
    """Deterministic corpus with planted span duplication: templated
    sentences over a small vocabulary plus quoted passages copied
    between docs (the ExactSubstr target shape)."""
    rng = random.Random(seed)
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lam mu nu xi omi").split()
    rows = []
    for i in range(n):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(24)]
        rows.append((i, " ".join(words)))
    # plant a shared passage: docs 3,9,15,... embed doc 1's tokens 5..12
    quote = rows[1][1].split()[5:13]
    for i in range(3, n, 6):
        w = rows[i][1].split()
        w[10:10] = quote
        rows[i] = (i, " ".join(w))
    return rows


def _write(spark, rows, path):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _gs_set(df):
    return {(r.gram, r.nd, r.keep_doc) for r in df.collect()}


def _post_set(df):
    return {(r.doc_id, r.p, r.gram) for r in df.collect()}


def _ds_set(df):
    return {(r.doc_id, r.fp, r.n_toks) for r in df.collect()}


def _assert_state_equal(got, full):
    assert _post_set(got[0]) == _post_set(full[0])
    assert _ds_set(got[1]) == _ds_set(full[1])
    assert _gs_set(got[2]) == _gs_set(full[2])


def test_delta_append_equals_full(spark, tmp_path):
    rows = _corpus(40)
    v1 = _write(spark, rows, str(tmp_path / "v1"))
    old = [t.localCheckpoint(eager=True) for t in SP.span_state(v1)]
    rows2 = rows + [(100 + i, t) for i, (_, t) in enumerate(_corpus(6, seed=99))]
    v2 = _write(spark, rows2, str(tmp_path / "v2"))
    stats: dict = {}
    got = SP.span_state_delta(v2, "doc_id", "text", *old, stats=stats)
    assert stats["docs_tokenized"] == 6  # only the appended docs
    _assert_state_equal(got, SP.span_state(v2))


def test_delta_change_and_remove_equals_full(spark, tmp_path):
    rows = _corpus(40)
    v1 = _write(spark, rows, str(tmp_path / "v1"))
    old = [t.localCheckpoint(eager=True) for t in SP.span_state(v1)]
    # change one doc's text, remove two docs
    rows2 = [
        (i, t + " changed tail words here") if i == 7 else (i, t)
        for i, t in rows
        if i not in (11, 22)
    ]
    v2 = _write(spark, rows2, str(tmp_path / "v2"))
    stats: dict = {}
    got = SP.span_state_delta(v2, "doc_id", "text", *old, stats=stats)
    assert stats["docs_tokenized"] == 1  # only the changed doc re-tokenized
    _assert_state_equal(got, SP.span_state(v2))


def test_delta_canonical_doc_removed_min_refolds(spark, tmp_path):
    """The min-fold's hard case: remove a gram's CANONICAL (min) doc —
    keep_doc must re-derive from surviving holders, and a fresh doc
    with a smaller id must win the min."""
    rows = _corpus(40)
    v1 = _write(spark, rows, str(tmp_path / "v1"))
    gs1 = SP.span_state(v1)[2]
    # pick a duplicated gram and its canonical doc
    r = (
        gs1.where(F.col("nd") >= 2)
        .orderBy("gram")
        .select("gram", "keep_doc")
        .first()
    )
    old = [t.localCheckpoint(eager=True) for t in SP.span_state(v1)]
    rows2 = [(i, t) for i, t in rows if i != r.keep_doc]
    v2 = _write(spark, rows2, str(tmp_path / "v2"))
    got = SP.span_state_delta(v2, "doc_id", "text", *old)
    full = SP.span_state(v2)
    _assert_state_equal(got, full)
    # the gram either re-anchored to a surviving holder or left the table
    new = {g: (nd, kd) for g, nd, kd in _gs_set(got[2])}
    if r.gram in new:
        assert new[r.gram][1] != r.keep_doc
        assert new[r.gram][1] > r.keep_doc


def test_cached_artifact_versions_and_serving(spark, tmp_path):
    rows = _corpus(30)
    src = str(tmp_path / "docs.parquet")
    v1 = _write(spark, rows, src)
    cache = str(tmp_path / "cache")
    stats: dict = {}
    art = SP.span_state_cached(v1, src, cache_dir=cache, stats=stats)
    assert stats["docs_tokenized"] == 30  # cold build
    inline = SP.span_state(v1)
    _assert_state_equal(
        (art["postings"], art["docstats"], art["gramstats"]), inline
    )
    # served q318/q319 frames == inline pipeline frames
    a = SP.duplicated_spans(
        art["postings"], art["gramstats"], art["docstats"]
    ).orderBy("doc_id")
    b = SP.duplicated_spans(*[inline[i] for i in (0, 2, 1)]).orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    # rewrite: append 3 docs → version miss refreshes from the delta
    rows2 = rows + [(200 + i, t) for i, (_, t) in enumerate(_corpus(3, seed=5))]
    v2 = _write(spark, rows2, src)
    stats2: dict = {}
    art2 = SP.span_state_cached(v2, src, cache_dir=cache, stats=stats2)
    assert stats2["docs_tokenized"] == 3  # delta, not the corpus
    _assert_state_equal(
        (art2["postings"], art2["docstats"], art2["gramstats"]),
        SP.span_state(v2),
    )
    # warm read: no rebuild at all
    stats3: dict = {}
    art3 = SP.span_state_cached(v2, src, cache_dir=cache, stats=stats3)
    assert "docs_tokenized" not in stats3
    assert art3["gramstats"].count() == art2["gramstats"].count()


def test_scrub_conserves_tokens_and_identity(spark, tmp_path):
    rows = _corpus(40)
    docs = _write(spark, rows, str(tmp_path / "v1"))
    p, ds, gs = SP.span_state(docs)
    sc = SP.scrub_spans(docs, postings=p, gramstats=gs).localCheckpoint(
        eager=True
    )
    # per-row conservation
    assert (
        sc.where(
            F.col("n_tokens_before") - F.col("n_tokens_after")
            != F.col("removed_tokens")
        ).count()
        == 0
    )
    # corpus totals == q319's budget
    budget = SP.scrub_savings(p, gs, ds).collect()[0]
    total_removed = sc.agg(F.sum("removed_tokens")).collect()[0][0]
    assert total_removed == budget.removable_tokens
    assert (
        sc.where(F.col("removed_tokens") > 0).count()
        == budget.n_docs_touched
    )
    # untouched docs byte-identical
    orig = docs.select("doc_id", F.col("text").alias("t0"))
    assert (
        sc.where(F.col("removed_tokens") == 0)
        .join(orig, "doc_id")
        .where(F.col("text") != F.col("t0"))
        .count()
        == 0
    )
    # canonical preservation (precise form): a duplicated gram whose
    # canonical doc lost NO tokens still occurs in the scrubbed corpus.
    # (A canonical occurrence can only vanish when a DIFFERENT gram's
    # non-canonical span overlaps it in the same doc — i.e. the doc is
    # itself touched.)
    untouched_ids = sc.where(F.col("removed_tokens") == 0).select("doc_id")
    safe_grams = (
        gs.where(F.col("nd") >= 2)
        .join(
            untouched_ids.withColumnRenamed("doc_id", "keep_doc"),
            "keep_doc",
            "left_semi",
        )
        .select("gram")
    )
    after = SP.gram_postings(sc.select("doc_id", "text")).select("gram")
    assert safe_grams.join(after, "gram", "left_anti").count() == 0


def test_scrub_inline_equals_artifact_path(spark, tmp_path):
    rows = _corpus(25)
    docs = _write(spark, rows, str(tmp_path / "v1"))
    p, _, gs = SP.span_state(docs)
    a = SP.scrub_spans(docs).orderBy("doc_id")
    b = SP.scrub_spans(docs, postings=p, gramstats=gs).orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_pipeline_span_scrub_stage_observe(spark, tmp_path):
    """The stage wires into a CorpusPipeline and the token accounting
    rides the same single job as the stage row counts."""
    from pyspark.sql import Observation

    from stock_ops_spark.pipeline import CorpusPipeline, exact_dedup, span_scrub

    rows = _corpus(40)
    # add one exact duplicate so exact_dedup drops a row
    rows.append((400, rows[0][1]))
    docs = _write(spark, rows, str(tmp_path / "v1"))
    pipe = CorpusPipeline([exact_dedup(), span_scrub()])
    out, obs = pipe.run(docs)
    tok = Observation("tokens")
    out = out.observe(
        tok,
        F.sum("removed_tokens").alias("removed"),
        F.sum("n_tokens_after").alias("kept"),
    )
    n = out.count()  # one action populates every observation
    assert obs["exact_dedup"].get["rows_out"] == 40
    assert obs["span_scrub"].get["rows_out"] == 40
    assert n == 40
    assert tok.get["removed"] > 0
    assert tok.get["removed"] + tok.get["kept"] == sum(
        len(t.split(" ")) for i, t in rows if i != 400
    )


def test_surgical_scrub_against_reference(spark, tmp_path):
    """scrub_spans_against: benchmark-overlapping spans are excised at
    their ORIGINAL positions (conservation + identity pins); note the
    documented caveat — excision can create NEW adjacencies, so the
    invariant is 'no surviving original occurrence', not 'no benchmark
    gram in the rejoined text'."""
    rows = _corpus(30)
    # plant contamination: doc 2 embeds doc 0's tokens 3..10 (doc 0
    # will be the reference side)
    quote = rows[0][1].split()[3:11]
    w2 = rows[2][1].split()
    w2[5:5] = quote
    rows[2] = (2, " ".join(w2))
    docs = _write(spark, rows, str(tmp_path / "v1"))
    ref = docs.where(F.col("doc_id") == 0)
    train = docs.where(F.col("doc_id") != 0)
    sc = SP.scrub_spans_against(train, ref).localCheckpoint(eager=True)
    # conservation per row
    assert (
        sc.where(
            F.col("n_tokens_before") - F.col("n_tokens_after")
            != F.col("removed_tokens")
        ).count()
        == 0
    )
    # the planted doc lost at least the quoted span
    hit = sc.where(F.col("doc_id") == 2).collect()[0]
    assert hit.removed_tokens >= len(quote)
    # docs sharing no 4-gram with the reference are byte-identical
    ref_grams = {
        r.gram for r in SP.gram_postings(ref).select("gram").collect()
    }
    orig = {r.doc_id: r.text for r in train.collect()}
    for r in sc.collect():
        doc_grams = {
            g.gram
            for g in SP.gram_postings(
                spark.createDataFrame(
                    [(r.doc_id, orig[r.doc_id])], "doc_id long, text string"
                )
            ).collect()
        }
        if not (doc_grams & ref_grams):
            assert r.text == orig[r.doc_id]
            assert r.removed_tokens == 0
        else:
            assert r.removed_tokens > 0


def test_streaming_span_index_equals_batch_restriction(spark, tmp_path):
    """Online at-ingest span flagging: after ingesting batches 1..k, the
    flags written for batch k EQUAL the batch-mode duplicated_spans over
    the FULL corpus restricted to batch k's docs — a batch gram is
    online-duplicated iff it is in the index (prior doc) or in >=2 docs
    of the batch, which is exactly nd >= 2 over the corpus so far.  Also
    pins the one-sidedness contract (prior holders are not re-flagged)
    and maintain()'s probe-invariance."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(36)
    b1 = [(i, t) for i, t in rows if i < 12]
    b2 = [(i, t) for i, t in rows if 12 <= i < 24]
    b3 = [(i, t) for i, t in rows if i >= 24]
    idx = StreamingSpanIndex(spark, str(tmp_path / "sidx"))
    for b in (b1, b2):
        idx.process_batch(
            spark.createDataFrame(b, "doc_id long, text string")
        )
    idx.maintain(target_files=2)  # compaction must not change probes
    idx.process_batch(spark.createDataFrame(b3, "doc_id long, text string"))

    full = spark.createDataFrame(rows, "doc_id long, text string")
    p, ds, gs = SP.span_state(full)
    expect = {
        r.doc_id: (r.n_spans, r.max_span, r.covered_tokens, r.dup_frac)
        for r in SP.duplicated_spans(p, gs, ds).collect()
        if r.doc_id >= 24
    }
    last_seq = idx.flags().agg(F.max("batch_seq")).collect()[0][0]
    got = {
        r.doc_id: (r.n_spans, r.max_span, r.covered_tokens, r.dup_frac)
        for r in idx.flags().where(F.col("batch_seq") == last_seq).collect()
    }
    assert got == expect
    assert len(got) > 0  # the planted quotes straddle the batch split
    # one-sided: doc 1 (the quote's source, batch 1) may hold flags only
    # from ITS OWN batch context, never retro-flags from batch 3
    early = idx.flags().where(
        (F.col("doc_id") == 1) & (F.col("batch_seq") == last_seq)
    )
    assert early.count() == 0


def test_streaming_state_equals_batch_state_and_serves_warm(spark, tmp_path):
    """ONE state, two write paths (VERDICT r9 #2): after streaming N
    batches, the index's three tables equal batch-mode ``span_state``
    over the union EXACTLY, and ``publish_artifact`` hands them to the
    span artifact cache so ``span_state_cached`` serves WARM — no
    rebuild (stats dict untouched), q318's frame identical."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(36)
    src = str(tmp_path / "docs.parquet")
    full = _write(spark, rows, src)
    idx = StreamingSpanIndex(spark, str(tmp_path / "sidx"))
    for lo, hi in ((0, 12), (12, 24), (24, 36)):
        idx.process_batch(
            spark.createDataFrame(
                [(i, t) for i, t in rows if lo <= i < hi],
                "doc_id long, text string",
            )
        )
    got = idx.state()
    p, ds, gs = SP.span_state(full)
    _assert_state_equal(
        (got["postings"], got["docstats"], got["gramstats"]), (p, ds, gs)
    )
    # publish into the artifact cache -> span_state_cached hits the
    # complete version: no rebuild, no tokenize
    cache = str(tmp_path / "cache")
    idx.publish_artifact(src, cache_dir=cache)
    stats: dict = {}
    st = SP.span_state_cached(full, src, cache_dir=cache, stats=stats)
    assert "docs_tokenized" not in stats  # warm hit, not a rebuild
    q318_stream = {
        tuple(r)
        for r in SP.duplicated_spans(
            st["postings"], st["gramstats"], st["docstats"]
        ).collect()
    }
    q318_batch = {tuple(r) for r in SP.duplicated_spans(p, gs, ds).collect()}
    assert q318_stream == q318_batch and len(q318_batch) > 0


def test_streaming_redelivery_is_a_noop_and_never_self_flags(spark, tmp_path):
    """At-least-once tolerance (ADVICE r9): re-delivering a batch
    IDENTICALLY must fold to nothing (state unchanged) and must NOT
    flag a document against its own prior grams — flags still equal
    batch-mode nd>=2 over DISTINCT doc_ids."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(24)
    idx = StreamingSpanIndex(spark, str(tmp_path / "sidx"))
    b1 = spark.createDataFrame(
        [(i, t) for i, t in rows if i < 12], "doc_id long, text string"
    )
    idx.process_batch(b1)
    before = {k: v.count() for k, v in idx.state().items()}
    flags_before = idx.flags().count() if idx.flags() is not None else 0

    n = idx.process_batch(b1)  # exact re-delivery
    after = {k: v.count() for k, v in idx.state().items()}
    assert after == before  # state unchanged
    # flags written for the re-delivery must equal batch-mode
    # duplicated_spans over the corpus restricted to these docs (the
    # equivalence holds under replay — no self-matches)
    full = spark.createDataFrame(
        [(i, t) for i, t in rows if i < 12], "doc_id long, text string"
    )
    p, ds, gs = SP.span_state(full)
    expect = SP.duplicated_spans(p, gs, ds).count()
    assert n == expect
    assert (idx.flags().count() if idx.flags() is not None else 0) == (
        flags_before + n
    )


def test_streaming_changed_doc_refused(spark, tmp_path):
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(12)
    idx = StreamingSpanIndex(spark, str(tmp_path / "sidx"))
    idx.process_batch(spark.createDataFrame(rows, "doc_id long, text string"))
    mutated = [(rows[0][0], rows[0][1] + " extra")]
    with pytest.raises(ValueError, match="append-only"):
        idx.process_batch(
            spark.createDataFrame(mutated, "doc_id long, text string")
        )


def _killed(idx, m, after_part: str | None = None) -> None:
    """Make ``idx``'s next fold or rewrite die like a killed process:
    right after it writes ``after_part``'s dir, or (None) at its
    publish — every dir written, no commit."""
    if after_part is None:
        def boom(*_a, **_k):
            raise RuntimeError("killed before the publish")

        m.setattr(idx.log, "try_commit", boom)
        return
    real = idx._write

    def write(part, df):
        name = real(part, df)
        if part == after_part:
            raise RuntimeError(f"killed after the {part} write")
        return name

    m.setattr(idx, "_write", write)


def test_streaming_maintain_crash_window_recovers(spark, tmp_path):
    """ADVICE r9: a crash inside maintain() — its rewrite written, the
    commit not yet published — must leave the index's memory whole,
    never restart it empty; the next rewrite deletes the debris."""
    import os

    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(24)
    root = str(tmp_path / "sidx")
    idx = StreamingSpanIndex(spark, root)
    for lo in (0, 8, 16):  # three batches: over maintain's file target
        idx.process_batch(
            spark.createDataFrame(rows[lo:lo + 8], "doc_id long, text string")
        )
    n_grams = idx.state()["gramstats"].count()
    with pytest.MonkeyPatch.context() as m:
        _killed(idx, m)
        with pytest.raises(RuntimeError, match="killed"):
            idx.maintain(target_files=1)
    debris = set(os.listdir(root)) - {"_log"} - set(idx.log.state()["dirs"])
    assert debris

    idx2 = StreamingSpanIndex(spark, root)  # fresh process
    assert idx2.state()["gramstats"].count() == n_grams  # memory intact
    # and the index keeps flagging cross-batch duplicates
    n = idx2.process_batch(
        spark.createDataFrame(rows[:12], "doc_id long, text string")
    )
    assert n >= 0
    idx2.maintain(target_files=1)
    assert not debris & set(os.listdir(root))


def test_streaming_crash_after_docstats_recovers(spark, tmp_path):
    """ADVICE r10 (medium): the four per-batch writes are not atomic —
    a crash after the docstats write, followed by at-least-once
    redelivery, used to anti-join every doc of the batch out as
    already-seen, silently losing its postings and partials forever.
    The batch's dirs publish in one commit, so the dead fold's dirs
    are never read and the redelivered batch folds completely: final
    state EQUALS batch-mode span_state over the union."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(24)
    b1 = [(i, t) for i, t in rows if i < 12]
    b2 = [(i, t) for i, t in rows if i >= 12]
    root = str(tmp_path / "sidx")
    idx = StreamingSpanIndex(spark, root)
    idx.process_batch(spark.createDataFrame(b1, "doc_id long, text string"))
    with pytest.MonkeyPatch.context() as m:
        _killed(idx, m, after_part="docstats")
        with pytest.raises(RuntimeError, match="killed"):
            idx.process_batch(
                spark.createDataFrame(b2, "doc_id long, text string")
            )

    idx2 = StreamingSpanIndex(spark, root)  # fresh process, redelivery
    idx2.process_batch(spark.createDataFrame(b2, "doc_id long, text string"))
    got = idx2.state()
    full = spark.createDataFrame(rows, "doc_id long, text string")
    p, ds, gs = SP.span_state(full)
    _assert_state_equal(
        (got["postings"], got["docstats"], got["gramstats"]), (p, ds, gs)
    )


def test_streaming_crash_before_publish_no_double_count(spark, tmp_path):
    """The dual failure mode: all four writes landed but the commit
    didn't — the redelivery must not see them, or the gramstats
    partials double-count nd (the reason reordering the writes alone
    cannot fix the crash window)."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(24)
    b1 = [(i, t) for i, t in rows if i < 12]
    b2 = [(i, t) for i, t in rows if i >= 12]
    root = str(tmp_path / "sidx")
    idx = StreamingSpanIndex(spark, root)
    idx.process_batch(spark.createDataFrame(b1, "doc_id long, text string"))
    with pytest.MonkeyPatch.context() as m:
        _killed(idx, m)
        with pytest.raises(RuntimeError, match="killed"):
            idx.process_batch(
                spark.createDataFrame(b2, "doc_id long, text string")
            )

    idx2 = StreamingSpanIndex(spark, root)
    idx2.process_batch(spark.createDataFrame(b2, "doc_id long, text string"))
    got = idx2.state()
    full = spark.createDataFrame(rows, "doc_id long, text string")
    p, ds, gs = SP.span_state(full)
    _assert_state_equal(
        (got["postings"], got["docstats"], got["gramstats"]), (p, ds, gs)
    )


def test_streaming_first_batch_crash_recovers_from_empty(spark, tmp_path):
    """Crash during the very FIRST fold, before its publish: reads
    before the redelivery see no state, not the half-written one, and
    the redelivered batch cold-folds."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(12)
    root = str(tmp_path / "sidx")
    idx = StreamingSpanIndex(spark, root)
    with pytest.MonkeyPatch.context() as m:
        _killed(idx, m)
        with pytest.raises(RuntimeError, match="killed"):
            idx.process_batch(
                spark.createDataFrame(rows, "doc_id long, text string")
            )

    idx2 = StreamingSpanIndex(spark, root)
    assert idx2.state() is None
    idx2.process_batch(spark.createDataFrame(rows, "doc_id long, text string"))
    got = idx2.state()
    full = spark.createDataFrame(rows, "doc_id long, text string")
    p, ds, gs = SP.span_state(full)
    _assert_state_equal(
        (got["postings"], got["docstats"], got["gramstats"]), (p, ds, gs)
    )


def test_streaming_fold_job_budget(spark, tmp_path):
    """r11 (VERDICT #3): a steady-state process_batch runs FIVE driver
    actions — fold checkpoint (batch/changed/fresh counts riding it as
    Observations), the postings append (the batch's ONLY full
    materialization, read back file-pruned for the partial and the
    probe), gramstats + docstats appends, flags append (count
    observed).  statusTracker counts AQE stage-jobs, not actions, so
    the enforceable pin is the stage-job total: 16 on this shape vs 33
    on r10's (postings materialized twice, distinct+groupBy+re-join+
    semi-join probe, standalone counts).  Bound at 20 to absorb AQE
    plan jitter while still failing on any reintroduced per-batch
    pass; q328 replays this per batch, so this is the replay's cost
    model."""
    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    rows = _corpus(24)
    idx = StreamingSpanIndex(spark, str(tmp_path / "sidx"))
    idx.process_batch(
        spark.createDataFrame(
            [(i, t) for i, t in rows if i < 12], "doc_id long, text string"
        )
    )
    sc = spark.sparkContext
    sc.setJobGroup("span_fold_budget", "r11 job budget pin")
    try:
        idx.process_batch(
            spark.createDataFrame(
                [(i, t) for i, t in rows if i >= 12],
                "doc_id long, text string",
            )
        )
    finally:
        sc.setJobGroup("span_fold_budget_done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("span_fold_budget")
    assert len(jobs) <= 20, f"per-batch job budget blown: {len(jobs)} jobs"


def test_source_gram_projection_equals_inline(spark, tmp_path):
    """VERDICT r11 #7: the (source, 5-gram) projection derived from
    the 4-gram postings (lead-window reconstruction + lower) must be
    ROW-IDENTICAL to the inline split(lower(text)) -> 5-gram ->
    distinct pipeline — including mixed-case text (lower distributes
    over the space-joined concat) and docs too short for any 5-gram.
    Warm second call serves from parquet; a corpus rewrite rebuilds."""
    rows = _corpus(30)
    # mixed case + a doc with exactly 4 tokens (4-grams but no 5-gram)
    rows[2] = (2, rows[2][1].upper())
    rows[5] = (5, "Alpha beta GAMMA delta")
    srcs = ["crawlA", "crawlB", "crawlC"]
    data = [(i, t, srcs[i % 3]) for i, t in rows]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        data, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    docs = spark.read.parquet(src)
    cache = str(tmp_path / "cache")

    stats: dict = {}
    got = SP.source_gram_projection_cached(
        docs, src, n=5, cache_dir=cache, stats=stats
    )
    assert stats["projection_built"] is True

    w = docs.select(
        "source", F.split(F.lower("text"), " ").alias("ws")
    ).where(F.size("ws") >= 5)
    gram = F.expr(
        "transform(sequence(1, size(ws) - 4), i -> "
        "concat_ws(' ', ws[i-1], ws[i], ws[i+1], ws[i+2], ws[i+3]))"
    )
    inline = w.select("source", F.explode(gram).alias("gram")).distinct()
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in inline.collect()
    }

    # warm: no rebuild
    s2: dict = {}
    SP.source_gram_projection_cached(docs, src, n=5, cache_dir=cache, stats=s2)
    assert s2["projection_built"] is False

    # staleness guard: a rewrite (append) moves the version and rebuilds
    data2 = data + [(100, "zeta eta theta iota kappa lam", "crawlA")]
    spark.createDataFrame(
        data2, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    docs2 = spark.read.parquet(src)
    s3: dict = {}
    got2 = SP.source_gram_projection_cached(
        docs2, src, n=5, cache_dir=cache, stats=s3
    )
    assert s3["projection_built"] is True
    assert got2.where(F.col("gram") == "zeta eta theta iota kappa").count() == 1
