"""Online near-dup flagging: a persisted LSH band index probed by each
arriving batch (streaming/dedup.py)."""

from __future__ import annotations

import pytest

from stock_ops_spark.streaming.dedup import StreamingNearDupIndex

DOC_A = "the quick brown fox jumps over the lazy dog again and again today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
DOC_B = "completely different text about spark window aggregation semantics"
DOC_C = "yet another unrelated document concerning parquet row group statistics"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def index(spark, tmp_path):
    return StreamingNearDupIndex(spark, str(tmp_path / "lsh"), threshold=0.5)


def test_first_batch_never_flags(spark, index):
    assert index.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)])) == 0
    assert index.flags() is None


def test_cross_batch_near_dup_is_flagged(spark, index):
    index.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)]))
    n = index.process_batch(_df(spark, [(3, DOC_A_NEAR), (4, DOC_C)]))
    assert n == 1
    flags = {(r["new_id"], r["matched_id"]) for r in index.flags().collect()}
    assert flags == {(3, 1)}
    est = index.flags().collect()[0]["est_jaccard"]
    assert est >= 0.5  # heavy shingle overlap -> high estimator value


def test_unrelated_batches_accumulate_without_flags(spark, index):
    index.process_batch(_df(spark, [(1, DOC_A)]))
    assert index.process_batch(_df(spark, [(2, DOC_B)])) == 0
    assert index.process_batch(_df(spark, [(3, DOC_C)])) == 0
    assert index.flags() is None


def test_maintain_bounds_file_count_across_batches(spark, index):
    """The index must not accumulate one file set per micro-batch forever:
    after maintain(), part-file counts are bounded regardless of how many
    batches were ingested, and probe results are unchanged."""
    import os

    docs = [DOC_A, DOC_B, DOC_C]
    for i in range(6):
        index.process_batch(_df(spark, [(100 + i, f"{docs[i % 3]} variant {i}")]))
    before = index._file_count("bands")
    assert before >= 6  # one file set per batch accumulated

    counts = index.maintain(target_files=2)
    assert counts["bands"] <= 2
    assert counts["sigs"] <= 2
    assert index._file_count("bands") <= 2

    # index still functionally intact after the rewrite
    n = index.process_batch(_df(spark, [(999, f"{DOC_A} variant 0")]))
    assert n >= 1


def test_maintain_retention_trims_old_batches(spark, index):
    """max_batches drops band/sig rows older than the window; newer rows
    survive and still flag."""
    index.process_batch(_df(spark, [(1, DOC_A)]))  # seq 0 — will be trimmed
    index.process_batch(_df(spark, [(2, DOC_B)]))  # seq 1
    index.process_batch(_df(spark, [(3, DOC_C)]))  # seq 2
    index.maintain(target_files=2, max_batches=2)

    seqs = {r.batch_seq for r in index._existing("bands").select("batch_seq").distinct().collect()}
    assert seqs == {1, 2}

    # doc 1 left the index: its near-dup no longer flags; doc 2's does
    assert index.process_batch(_df(spark, [(10, DOC_A)])) == 0
    assert index.process_batch(_df(spark, [(11, DOC_B)])) >= 1


def test_maintain_flags_trim_is_opt_in(spark, index):
    """flags/ is a downstream-consumed output: compacted by default,
    aged out only with trim_flags=True."""
    index.process_batch(_df(spark, [(1, DOC_A)]))          # seq 0
    index.process_batch(_df(spark, [(2, DOC_A_NEAR)]))     # seq 1 → flag
    index.process_batch(_df(spark, [(3, DOC_B)]))          # seq 2
    index.process_batch(_df(spark, [(4, DOC_B + " now")])) # seq 3 → flag
    assert index.flags().count() == 2

    index.maintain(target_files=2, max_batches=2)          # default: keep flags
    assert index.flags().count() == 2

    index.maintain(target_files=2, max_batches=2, trim_flags=True)
    kept = index.flags().select("new_id", "matched_id").collect()
    assert {(r.new_id, r.matched_id) for r in kept} == {(4, 3)}


def test_maintain_flags_age_retention(spark, index, monkeypatch):
    """flags_max_age_s bounds the flags output by WALL-CLOCK age (batches
    are not time): old flags age out, fresh ones survive, and repeated
    batches never grow the output past the window."""
    import stock_ops_spark.streaming.dedup as SD

    # batch at t=1000 produces an old flag; batch at t=2000 a fresh one
    monkeypatch.setattr(SD.time, "time", lambda: 1000.0)
    index.process_batch(_df(spark, [(1, DOC_A)]))
    index.process_batch(_df(spark, [(2, DOC_A_NEAR)]))      # flag @1000
    monkeypatch.setattr(SD.time, "time", lambda: 2000.0)
    index.process_batch(_df(spark, [(3, DOC_B)]))
    index.process_batch(_df(spark, [(4, DOC_B + " now")]))  # flag @2000
    assert index.flags().count() == 2

    # window of 500s from "now"=2000 → the t=1000 flag ages out
    index.maintain(target_files=2, flags_max_age_s=500.0)
    kept = {(r.new_id, r.matched_id) for r in index.flags().collect()}
    assert kept == {(4, 3)}
    # bands/sigs untouched by the age policy (probe state keeps history)
    seqs = {r.batch_seq for r in index._existing("bands").select("batch_seq").distinct().collect()}
    assert seqs == {0, 1, 2, 3}

    # steady state: everything inside the window → no further shrink
    index.maintain(target_files=2, flags_max_age_s=5000.0)
    assert index.flags().count() == 1


def test_streaming_foreachbatch_wiring(spark, index, tmp_path):
    """The same index object rides foreachBatch: two files drained as
    two ordered micro-batches; the near-dup in the second batch flags
    against the first batch's index entries."""
    src = tmp_path / "stream_src"
    src.mkdir()
    _df(spark, [(1, DOC_A), (2, DOC_B)]).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    _df(spark, [(3, DOC_A_NEAR)]).coalesce(1).write.parquet(str(src / "b1.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(lambda df, _id: index.process_batch(df))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    flags = {(r["new_id"], r["matched_id"]) for r in index.flags().collect()}
    assert (3, 1) in flags


def test_maintain_crash_before_publish_keeps_index(spark, tmp_path):
    """A maintain killed after its rewrite wrote but before the commit
    published it leaves the old index whole: a fresh index keeps
    probing every band row, still flags the near-dup, and its next
    rewrite deletes the dead attempt's dirs."""
    import os

    root = str(tmp_path / "lsh")
    idx = StreamingNearDupIndex(spark, root, threshold=0.5)
    for row in [(1, DOC_A), (2, DOC_B), (4, DOC_C)]:
        idx.process_batch(_df(spark, [row]))
    n_bands = idx._existing("bands").count()
    assert idx._file_count("bands") > 2
    with pytest.MonkeyPatch.context() as m:
        def killed(*_a, **_k):
            raise RuntimeError("killed before the publish")

        m.setattr(idx.log, "try_commit", killed)
        with pytest.raises(RuntimeError, match="killed"):
            idx.maintain(target_files=1)
    debris = set(os.listdir(root)) - {"_log"} - set(idx.log.state()["dirs"])
    assert debris  # the dead rewrite's dirs, never referenced

    fresh = StreamingNearDupIndex(spark, root, threshold=0.5)
    assert fresh._existing("bands").count() == n_bands
    assert fresh.process_batch(_df(spark, [(3, DOC_A_NEAR)])) == 1
    assert {(r.new_id, r.matched_id) for r in fresh.flags().collect()} == {(3, 1)}
    fresh.maintain(target_files=1)
    assert not debris & set(os.listdir(root))


def test_crash_after_flags_append_redelivery_no_duplicate_flags(spark, tmp_path):
    """A fold killed after its flags write but before the bands/sigs
    writes, then redelivered: the dead fold never published, so
    flags() equals a crash-free run (no duplicate pairs)."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    b1 = [(1, DOC_A), (2, DOC_B)]
    b2 = [(3, DOC_A_NEAR), (4, DOC_C)]
    clean = StreamingNearDupIndex(spark, str(tmp_path / "clean"), threshold=0.5)
    clean.process_batch(_df(spark, b1))
    clean.process_batch(_df(spark, b2))

    root = str(tmp_path / "lsh")
    StreamingNearDupIndex(spark, root, threshold=0.5).process_batch(_df(spark, b1))
    real = DataFrameWriter.parquet

    def killed_at_bands(self, path, *args, **kwargs):
        if os.path.basename(path).startswith("bands-"):
            raise RuntimeError("killed before the bands append")
        return real(self, path, *args, **kwargs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", killed_at_bands)
        with pytest.raises(RuntimeError, match="killed"):
            StreamingNearDupIndex(spark, root, threshold=0.5).process_batch(
                _df(spark, b2)
            )
    # the dead fold's flags dir landed, but no commit references it
    assert any(n.startswith("flags-") for n in os.listdir(root))
    assert StreamingNearDupIndex(spark, root).flags() is None

    redo = StreamingNearDupIndex(spark, root, threshold=0.5)
    redo.process_batch(_df(spark, b2))

    def flag_rows(ix):
        return sorted(
            (r.new_id, r.matched_id, r.est_jaccard) for r in ix.flags().collect()
        )

    assert flag_rows(redo) == flag_rows(clean)
