"""``streaming/foldstate.py``: which dirs a rewrite deletes."""

from __future__ import annotations

import os

from stock_ops_spark.streaming.foldstate import FoldStateIndex


class _OneTable(FoldStateIndex):
    PARTS = ("t",)


def _fold(idx, rows) -> str:
    st = idx.log.state()
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
