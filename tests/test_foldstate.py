"""``streaming/foldstate.py``: which dirs a rewrite deletes, and how a
fold root written before the commit log converts into version 1."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from stock_ops_spark.streaming.foldstate import FoldStateIndex


class _OneTable(FoldStateIndex):
    PARTS = ("t",)


def _fold(idx, rows) -> str:
    st = idx._snapshot()
    seq = idx._next_seq(st)
    d = idx._append("t", rows.coalesce(1), seq)
    idx._publish_fold(st, seq, [d])
    return d


def _ids(idx) -> list[int]:
    return sorted(r.id for r in idx._existing("t").collect())


def test_removed_dir_survives_exactly_one_more_rewrite(spark, tmp_path):
    root = str(tmp_path / "fs")
    idx = _OneTable(spark, root)
    first = {_fold(idx, spark.range(i * 5, i * 5 + 5)) for i in range(3)}
    debris = os.path.join(root, "t-deadbeef0000")  # a dead fold's dir
    spark.range(1).write.parquet(debris)

    idx.maintain(target_files=1)
    (c1,) = idx.log.state()["dirs"]
    # the old dirs are referenced by the state before this rewrite
    assert set(os.listdir(root)) == {"_log", c1, *first}
    second = {_fold(idx, spark.range(i * 5, i * 5 + 5)) for i in range(3, 6)}
    idx.maintain(target_files=1)
    (c2,) = idx.log.state()["dirs"]
    assert set(os.listdir(root)) == {"_log", c2, c1, *second}
    assert _ids(idx) == list(range(30))
    assert idx.log.min_version() == idx.log.version()  # checkpointed


def _legacy_table(spark, root: str, seqs, with_seq=True) -> None:
    for seq in seqs:
        df = spark.range(seq * 5, seq * 5 + 5).coalesce(1)
        if with_seq:
            df = df.withColumn("batch_seq", F.lit(seq))
        df.write.mode("append").parquet(os.path.join(root, "t"))


def test_marker_root_converts_once_keeping_committed_seqs(spark, tmp_path):
    """Seqs 0 and 1 committed; seq 2's fold crashed mid-append (its
    marker kept the suffix): version 1 holds seqs 0-1 only, the next
    fold is seq 2, and the legacy files are gone."""
    root = str(tmp_path / "fs")
    _legacy_table(spark, root, range(3))
    os.makedirs(os.path.join(root, "_commits"))
    for name in ("0", "1", "2" + ".pending"):
        open(os.path.join(root, "_commits", name), "w").close()

    idx = _OneTable(spark, root)
    assert _ids(idx) == list(range(10))
    assert idx.log.version() == 1
    assert [n for n in os.listdir(root) if n != "_log"] == idx.log.state()["dirs"]
    _fold(idx, spark.range(100, 102))
    again = _OneTable(spark, root)  # a second open converts nothing
    assert again.log.version() == 2
    assert {r.batch_seq for r in again._existing("t").collect()} == {0, 1, 2}


def test_pre_marker_root_converts_keeping_every_row(spark, tmp_path):
    """No markers: every row is committed; rows written before the seq
    column fold as batch 0."""
    root = str(tmp_path / "fs")
    _legacy_table(spark, root, [0], with_seq=False)
    _legacy_table(spark, root, [1, 2])

    idx = _OneTable(spark, root)
    assert _ids(idx) == list(range(15))
    seqs = {(r.id // 5, r.batch_seq) for r in idx._existing("t").collect()}
    assert seqs == {(0, 0), (1, 1), (2, 2)}
    assert idx._next_seq(idx._snapshot()) == 3
