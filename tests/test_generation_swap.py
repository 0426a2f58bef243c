"""Crash at every commit boundary of every protocol that publishes a
parquet state through its own commit log (``streaming/foldstate.py``):
``MatView.sync``, ``FoldStateIndex.maintain``,
``StreamingNearDupIndex.maintain`` and the fold of each streaming index
(span, IVF, lexical, near-dup).

The boundaries, in order, are the end of each part write and the end
of the publish's ``try_commit`` (before a rewrite's checkpoint and
sweep); a crash just before ``try_commit`` leaves the same files as
one after the last part write.  After each crash a fresh instance (as
after a restart) must read the old state when the crash came before
the publish and the new one after it.  Running the operation again (a
redelivery, for a fold) must then give the state of a crash-free run
that ran it as often: once when the crash came before the publish,
twice after it — the second run is a no-op for a rewrite and for the
IVF and lexical folds, while the span and near-dup folds write a
redelivered batch's flags again.  After a rewrite nothing but the log,
the live dirs and the dirs the last rewrite removed is left on
disk."""

from __future__ import annotations

import os
import shutil

import pytest

from stock_ops_spark import schemas as S
from stock_ops_spark.plans.matview import MatView
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.streaming.dedup import StreamingNearDupIndex
from stock_ops_spark.streaming.foldstate import FoldState, FoldStateIndex
from stock_ops_spark.streaming.ivf import StreamingIVFIndex
from stock_ops_spark.streaming.lexical import StreamingLexicalIndex
from stock_ops_spark.streaming.spans import StreamingSpanIndex

MODE = "historical_intraday"
MEASURES = {"n": ("count", None), "vol": ("sum", "CAST(volume AS BIGINT)")}
ROWS_A = [
    ("SPY", 1751463000, 617.0, 618.7, 616.6, 618.6, 1000, "1h"),
    ("VOO", 1751463000, 567.0, 568.0, 566.0, 567.5, 100, "1h"),
]
ROWS_B = [
    ("SPY", 1751549400, 620.0, 630.0, 619.0, 620.5, 800, "1h"),
    ("QQQ", 1751549400, 500.0, 501.0, 499.0, 500.5, 300, "1h"),
]
DOCS = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "completely different text about spark window aggregation semantics",
    "the quick brown fox jumps over the lazy dog again and again tonight",
    "yet another unrelated document concerning parquet row group stats",
]


class Killed(Exception):
    pass


def _boundaries(monkeypatch, k: int | None) -> list:
    """Raise ``Killed`` at boundary ``k`` (None: never) of every fold,
    maintain or view install; returns the list of boundaries passed."""
    seen: list = []
    real_write, real_publish = FoldState._write, FoldState._publish

    def tick():
        if len(seen) == k:
            raise Killed(k)
        seen.append(k)

    def write(self, part, df):
        name = real_write(self, part, df)
        tick()
        return name

    def publish(self, st, meta, removes=()):
        real_publish(self, st, meta, removes)
        tick()

    monkeypatch.setattr(FoldState, "_write", write)
    monkeypatch.setattr(FoldState, "_publish", publish)
    return seen


def _crash_everywhere(tmp_path, monkeypatch, base, open_, op, snap,
                      rewrite=True) -> int:
    """Crash ``op(open_(root))`` at every boundary on a fresh copy of
    the state at ``base`` and check the recovery (module docstring);
    returns the number of boundaries."""
    before = snap(open_(base))
    base_dirs = set(open_(base).log.state()["dirs"])
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    with monkeypatch.context() as m:
        seen = _boundaries(m, None)
        op(open_(clean))
    after = snap(open_(clean))
    assert after != before
    op(open_(clean))
    redone = snap(open_(clean))
    for k in range(len(seen)):
        root = str(tmp_path / f"at{k}")
        shutil.copytree(base, root)
        with monkeypatch.context() as m:
            _boundaries(m, k)
            with pytest.raises(Killed):
                op(open_(root))
        published = k == len(seen) - 1
        assert snap(open_(root)) == (after if published else before), k
        op(open_(root))
        assert snap(open_(root)) == (redone if published else after), k
        if rewrite:
            live = set(open_(root).log.state()["dirs"])
            assert set(os.listdir(root)) - {"_log"} <= live | base_dirs, k
    return len(seen)


def _rows(df, drop=()) -> list[tuple] | None:
    if df is None:
        return None
    return sorted(tuple(r) for r in df.drop(*drop).collect())


def _index_snap(idx, drop=()) -> dict:
    return {p: _rows(idx._existing(p), drop) for p in idx.PARTS}


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, DOCS[i]) for i in ids], "doc_id long, text string"
    )


def _mv(spark, path: str) -> MatView:
    return MatView(spark, path, ["ticker"], MEASURES)


def test_matview_sync_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    """The cursor rides the install's commit: every state a read can
    see pairs its data with its own cursor, so a resumed sync never
    double-folds or skips a commit."""
    store = ManifestStore(spark, str(tmp_path / "store"))
    store.ingest_batch(spark.createDataFrame(ROWS_A, S.HISTORICAL_INTRADAY), MODE)
    base = str(tmp_path / "mv")
    _mv(spark, base).sync(store, MODE)
    store.ingest_batch(spark.createDataFrame(ROWS_B, S.HISTORICAL_INTRADAY), MODE)

    def snap(mv):
        return mv.cursor(), _rows(mv.read())

    n = _crash_everywhere(
        tmp_path, monkeypatch, base, lambda p: _mv(spark, p),
        lambda mv: mv.sync(store, MODE), snap,
    )
    assert n == 2  # the view dir's write, the commit


class _OneTable(FoldStateIndex):
    PARTS = ("t",)


def test_foldstate_maintain_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "fs")
    idx = _OneTable(spark, base)
    for seq in range(4):
        st = idx.log.state()
        rows = spark.range(seq * 5, seq * 5 + 5).coalesce(1)
        idx._publish_fold(st, seq, [idx._append("t", rows, seq)])
    assert idx._file_count("t") == 4

    def snap(ix):
        return _rows(ix._existing("t")), ix._file_count("t")

    n = _crash_everywhere(
        tmp_path, monkeypatch, base, lambda p: _OneTable(spark, p),
        lambda ix: ix.maintain(target_files=1), snap,
    )
    assert n == 2


def test_neardup_maintain_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "lsh")
    idx = StreamingNearDupIndex(spark, base, threshold=0.5)
    for i in range(3):
        idx.process_batch(_docs(spark, [i]))
    assert len(idx.flags().collect()) == 1
    assert idx._file_count("bands") > 2

    def snap(ix):
        return _index_snap(ix), {p: ix._file_count(p) for p in ix.PARTS}

    _crash_everywhere(
        tmp_path, monkeypatch, base,
        lambda p: StreamingNearDupIndex(spark, p, threshold=0.5),
        lambda ix: ix.maintain(target_files=1), snap,
    )


def test_neardup_fold_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "lsh")
    StreamingNearDupIndex(spark, base, threshold=0.5).process_batch(
        _docs(spark, [0, 1])
    )
    n = _crash_everywhere(
        tmp_path, monkeypatch, base,
        lambda p: StreamingNearDupIndex(spark, p, threshold=0.5),
        lambda ix: ix.process_batch(_docs(spark, [2, 3])),
        lambda ix: _index_snap(ix, drop=("flag_ts",)), rewrite=False,
    )
    assert n == 4  # flags, bands, sigs, the commit


def test_span_fold_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "sidx")
    StreamingSpanIndex(spark, base).process_batch(_docs(spark, [0, 1]))
    n = _crash_everywhere(
        tmp_path, monkeypatch, base, lambda p: StreamingSpanIndex(spark, p),
        lambda ix: ix.process_batch(_docs(spark, [2, 3])), _index_snap,
        rewrite=False,
    )
    assert n == 5  # postings, gramstats, docstats, flags, the commit


def test_lexical_fold_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "slex")
    StreamingLexicalIndex(spark, base).process_batch(_docs(spark, [0, 1]))
    n = _crash_everywhere(
        tmp_path, monkeypatch, base, lambda p: StreamingLexicalIndex(spark, p),
        lambda ix: ix.process_batch(_docs(spark, [2, 3])), _index_snap,
        rewrite=False,
    )
    assert n == 4  # postings, df, dl, the commit


def test_ivf_fold_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    cents = [[0.0, 0.0], [1.0, 1.0]]

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 2), i / 10.0]) for i in ids],
            "vec_id long, embedding array<float>",
        )

    base = str(tmp_path / "sivf")
    StreamingIVFIndex(spark, base, cents).process_batch(vecs([0, 1, 2]))
    n = _crash_everywhere(
        tmp_path, monkeypatch, base,
        lambda p: StreamingIVFIndex(spark, p, cents),
        lambda ix: ix.process_batch(vecs([3, 4, 5])), _index_snap,
        rewrite=False,
    )
    assert n == 2  # assign, the commit


def test_reader_before_a_rewrite_collects_its_whole_generation(spark, tmp_path):
    """A frame built before ``maintain`` or a view ``sync`` collects the
    generation it was built on after it: the rewrite took its dirs out
    of the log, but they stay on disk until the next rewrite."""
    idx = _OneTable(spark, str(tmp_path / "fs"))
    for seq in range(4):
        st = idx.log.state()
        rows = spark.range(seq * 5, seq * 5 + 5).coalesce(1)
        idx._publish_fold(st, seq, [idx._append("t", rows, seq)])
    old = idx._existing("t")
    idx.maintain(target_files=1)
    assert idx._file_count("t") == 1
    assert [r.id for r in old.orderBy("id").collect()] == list(range(20))

    store = ManifestStore(spark, str(tmp_path / "store"))
    store.ingest_batch(spark.createDataFrame(ROWS_A, S.HISTORICAL_INTRADAY), MODE)
    mv = _mv(spark, str(tmp_path / "mv"))
    mv.sync(store, MODE)
    view = mv.read()
    store.ingest_batch(spark.createDataFrame(ROWS_B, S.HISTORICAL_INTRADAY), MODE)
    mv.sync(store, MODE)
    assert _rows(view) == [("SPY", 1, 1000), ("VOO", 1, 100)]
    assert _rows(mv.read()) == [
        ("QQQ", 1, 300), ("SPY", 2, 1800), ("VOO", 1, 100)
    ]

