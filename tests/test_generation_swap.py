"""Crash at every boundary of the generation swap
(``operators/artifacts.install``) for each protocol that replaces a
parquet state through it: ``MatView.sync``, ``FoldStateIndex.maintain``
and ``StreamingNearDupIndex.maintain``.

``os.rename`` is made to raise once 0, 1 or 2 of the swap's renames
have completed — after the staging write, after the live dir is renamed
aside, after the staging dir is renamed live.  Each time the next read
(a fresh instance, as after a restart) must return the last whole
generation — the old one before the aside rename, the new one after it
(the staging dir is complete before either rename) — and leave no
staging or aside debris."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.plans.matview import MatView
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.streaming.dedup import StreamingNearDupIndex
from stock_ops_spark.streaming.foldstate import FoldStateIndex

#: renames completed when the crash lands
BOUNDARIES = (0, 1, 2)
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


class Killed(Exception):
    pass


def _crash_after(monkeypatch, path: str, n: int) -> None:
    """Make ``os.rename`` of ``path`` or its swap siblings raise
    ``Killed`` once ``n`` of those renames have completed (0: at the
    first); other renames pass through."""
    real = os.rename
    done = []

    def rename(src, dst):
        if not str(src).startswith(path):
            return real(src, dst)
        if len(done) == n:
            raise Killed(src)
        real(src, dst)
        done.append(dst)
        if len(done) == n:
            raise Killed(dst)

    monkeypatch.setattr(os, "rename", rename)


def _debris(path: str) -> list[str]:
    return [p for p in (path + ".tmp", path + ".old") if os.path.exists(p)]


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _fact(spark, rows):
    return spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)


def _mv(spark, path: str) -> MatView:
    return MatView(spark, path, ["ticker"], MEASURES)


def _copies(base: str, tmp_path):
    """(boundary, a fresh copy of the state at ``base``) per boundary."""
    for n in BOUNDARIES:
        path = str(tmp_path / f"at{n}")
        shutil.copytree(base, path)
        yield n, path


def test_matview_sync_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    """The cursor rides the swap: every generation a read can see
    pairs its data with its own cursor, so a resumed sync never
    double-folds or skips a commit."""
    store = ManifestStore(spark, str(tmp_path / "store"))
    store.ingest_batch(_fact(spark, ROWS_A), MODE)
    base = str(tmp_path / "mv")
    _mv(spark, base).sync(store, MODE)
    store.ingest_batch(_fact(spark, ROWS_B), MODE)

    def state(path):
        mv = _mv(spark, path)
        return mv.cursor(), _rows(mv.read())

    old = state(base)
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    _mv(spark, clean).sync(store, MODE)
    new = state(clean)
    assert old[0] == 1 and new[0] == 2

    for n, path in _copies(base, tmp_path):
        with monkeypatch.context() as m:
            _crash_after(m, path, n)
            with pytest.raises(Killed):
                _mv(spark, path).sync(store, MODE)
        assert state(path) == (old if n == 0 else new), n
        assert _debris(path) == [], n
        # and the healed view resumes exactly once
        _mv(spark, path).sync(store, MODE)
        assert state(path) == new, n


class _OneTable(FoldStateIndex):
    PARTS = ("t",)


def test_foldstate_maintain_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "fs")
    for seq in range(4):
        spark.range(seq * 5, seq * 5 + 5).withColumn(
            "batch_seq", F.lit(seq)
        ).coalesce(1).write.mode("append").parquet(os.path.join(base, "t"))
    rows = _rows(_OneTable(spark, base)._existing("t"))
    files = _OneTable(spark, base)._file_count("t")
    assert files == 4

    for n, root in _copies(base, tmp_path):
        with monkeypatch.context() as m:
            _crash_after(m, os.path.join(root, "t"), n)
            with pytest.raises(Killed):
                _OneTable(spark, root).maintain(target_files=1)
        idx = _OneTable(spark, root)
        assert _rows(idx._existing("t")) == rows, n
        assert idx._file_count("t") == (files if n == 0 else 1), n
        assert _debris(os.path.join(root, "t")) == [], n


def test_neardup_maintain_crash_at_every_boundary(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "lsh")
    idx = StreamingNearDupIndex(spark, base, threshold=0.5)
    docs = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again tonight",
        "completely different text about spark window aggregation semantics",
    ]
    for i, text in enumerate(docs):
        idx.process_batch(
            spark.createDataFrame([(i, text)], "doc_id long, text string")
        )
    rows = {p: _rows(idx._existing(p)) for p in idx.PARTS}
    assert len(rows["flags"]) == 1
    files = idx._file_count("bands")
    assert files > 2

    for n, root in _copies(base, tmp_path):
        with monkeypatch.context() as m:
            _crash_after(m, os.path.join(root, "bands"), n)
            with pytest.raises(Killed):
                StreamingNearDupIndex(spark, root).maintain(target_files=1)
        fresh = StreamingNearDupIndex(spark, root)
        assert {p: _rows(fresh._existing(p)) for p in fresh.PARTS} == rows, n
        assert fresh._file_count("bands") == (files if n == 0 else 1), n
        for p in fresh.PARTS:
            assert _debris(os.path.join(root, p)) == [], (n, p)
