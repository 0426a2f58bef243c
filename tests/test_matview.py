"""Incremental materialized views (plans/matview.py): fold-equals-
recompute equivalence, derived serving, dedup-aware maintenance from
the store's change feed (``sync``), recovery from a crash between a
commit's publish and the view's fold, and crash-state recovery via the
shared generation swap (``operators/artifacts.install``/``heal``)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.plans.matview import MatView
from stock_ops_spark.sources.commitlog import ManifestStore

MEASURES = {
    "n": ("count", None),
    "vol": ("sum", "CAST(volume AS BIGINT)"),
    "px_cents": ("sum", "CAST(round(close * 100) AS BIGINT)"),
    "hi": ("max", "high"),
    "lo": ("min", "low"),
}


def _mv(spark, tmp_path) -> MatView:
    return MatView(spark, str(tmp_path / "mv"), ["ticker"], MEASURES)


def _rows(seed: int):
    # deterministic batch generator: overlapping tickers across batches
    out = []
    for i in range(20):
        t = ["SPY", "VOO", "QQQ"][(seed + i) % 3]
        ts = 1751463000 + 3600 * (seed * 20 + i)
        px = 100.0 + ((seed * 7 + i * 13) % 900) / 10.0
        out.append((t, ts, px, px + 1.0, px - 1.0, px + 0.5, 100 + i, "1h"))
    return out


def _store(spark, tmp_path, name="store") -> ManifestStore:
    return ManifestStore(spark, str(tmp_path / name))


def _ingest_and_sync(mv, store, rows) -> int:
    """Commit ``rows`` to the store, then fold the feed into ``mv``."""
    n = store.ingest_batch(
        store.spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY),
        "historical_intraday",
    )
    mv.sync(store, "historical_intraday")
    return n


def _by_ticker(df) -> dict:
    return {r["ticker"]: {m: r[m] for m in MEASURES} for r in df.collect()}


def test_fold_equals_full_recompute(spark, tmp_path):
    mv = _mv(spark, tmp_path)
    store = _store(spark, tmp_path)
    for s in range(4):
        _ingest_and_sync(mv, store, _rows(s))
    full = spark.createDataFrame(
        [r for s in range(4) for r in _rows(s)], schema=S.HISTORICAL_INTRADAY
    )
    assert _by_ticker(mv.read()) == _by_ticker(mv._partial(full))


def test_serve_derives_from_partials(spark, tmp_path):
    mv = _mv(spark, tmp_path)
    _ingest_and_sync(mv, _store(spark, tmp_path), _rows(0))
    served = mv.serve(avg_px="round(px_cents / n / 100.0, 4)").collect()
    for r in served:
        assert abs(r.avg_px - r.px_cents / r.n / 100.0) < 1e-6


def test_rejects_non_additive_measure(spark, tmp_path):
    with pytest.raises(ValueError, match="not additive"):
        MatView(spark, str(tmp_path / "x"), ["t"], {"med": ("median", "v")})


def test_sync_sees_post_dedup_delta_only(spark, tmp_path):
    """The change feed hands the MV exactly the rows that entered the
    store: replaying the same batch (checkpoint-recovery shape) must
    NOT double-count, because the dedup empties the second delta."""
    mv = _mv(spark, tmp_path)
    store = _store(spark, tmp_path)
    assert _ingest_and_sync(mv, store, _rows(1)) == 20
    assert _ingest_and_sync(mv, store, _rows(1)) == 0  # full replay
    counts = {r.ticker: r.n for r in mv.read().collect()}
    assert sum(counts.values()) == 20  # folded once, not twice


def test_view_matches_store_after_mixed_ingest(spark, tmp_path):
    """End-to-end: after several batches with partial overlap, the view
    equals a full recompute over what the STORE holds."""
    mv = _mv(spark, tmp_path)
    store = _store(spark, tmp_path)
    for s in range(3):
        rows = _rows(s) + _rows(max(0, s - 1))[:5]  # 5-row replay overlap
        _ingest_and_sync(mv, store, rows)
    stored = store.read_all("historical_intraday")
    assert _by_ticker(mv.read()) == _by_ticker(mv._partial(stored))


def test_swap_debris_recovery(spark, tmp_path):
    """A kill between the two install renames leaves .tmp complete and
    the main path absent — read() must adopt it (the shared generation
    swap, ``artifacts.install``/``heal``, exercised through the MV)."""
    import os

    mv = _mv(spark, tmp_path)
    _ingest_and_sync(mv, _store(spark, tmp_path), _rows(0))
    os.rename(mv.path, mv.path + ".tmp")  # simulate: installed gen back to .tmp
    assert mv.read() is not None
    assert os.path.exists(mv.path) and not os.path.exists(mv.path + ".tmp")
    assert sum(r.n for r in mv.read().collect()) == 20
    assert mv.cursor() == 1  # the cursor rode the same generation


def test_manifest_store_sync_folds_each_commit_once(spark, tmp_path):
    """A sync folds each committed delta exactly once, and a replayed
    batch (empty delta) folds nothing."""
    mv = _mv(spark, tmp_path)
    store = _store(spark, tmp_path, "mstore")
    assert _ingest_and_sync(mv, store, _rows(3)) == 20
    assert _ingest_and_sync(mv, store, _rows(3)) == 0
    assert mv.cursor() == 1
    assert sum(r.n for r in mv.read().collect()) == 20
    stored = store.read_all("historical_intraday")
    assert _by_ticker(mv.read()) == _by_ticker(mv._partial(stored))


def test_streaming_ingest_maintains_view(spark, tmp_path):
    """The MV rides the streaming path untouched: stream_ingest →
    foreachBatch → ingest_batch → commit, then ``sync`` folds the
    commits.  Checkpointed replay of an already-seen burst folds
    nothing (effectively-once extends to the view)."""
    import json

    from stock_ops_spark.streaming.ingest import (
        file_trade_source,
        stream_ingest,
    )

    trades = [
        {"ticker": "SPY", "timestamp_UTC_ms": 1755526571834,
         "price": 643.155, "volume": 10},
        {"ticker": "SPY", "timestamp_UTC_ms": 1755526600000,
         "price": 643.20, "volume": 4},
        {"ticker": "SPY", "timestamp_UTC_ms": 1755526600000,
         "price": 643.20, "volume": 4},  # dup collapses
        {"ticker": "VOO", "timestamp_UTC_ms": 1755526610000,
         "price": 590.00, "volume": 2},
    ]
    src = tmp_path / "socket"
    src.mkdir()
    with open(src / "burst1.json", "w") as f:
        for r in trades:
            f.write(json.dumps(r) + "\n")

    mv = MatView(
        spark,
        str(tmp_path / "mv"),
        ["ticker"],
        {"n": ("count", None), "vol": ("sum", "CAST(volume AS BIGINT)")},
    )
    store = _store(spark, tmp_path)

    def drain_and_sync():
        q = stream_ingest(
            file_trade_source(spark, str(src)),
            store,
            checkpoint=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        mv.sync(store, "streaming")
        return {r.ticker: (r.n, r.vol) for r in mv.read().collect()}

    assert drain_and_sync() == {"SPY": (2, 14), "VOO": (1, 2)}

    # replayed burst → empty post-dedup delta → view unchanged
    with open(src / "burst2.json", "w") as f:
        for r in trades[:2]:
            f.write(json.dumps(r) + "\n")
    assert drain_and_sync() == {"SPY": (2, 14), "VOO": (1, 2)}


# -- CDC-driven maintenance (ManifestStore.read_changes) -------------------


MODE = "historical_intraday"
CDC_ROWS_A = [
    ("SPY", 1751463000, 617.0, 618.7, 616.6, 618.6, 1000, "1h"),
    ("SPY", 1751466600, 618.6, 619.0, 617.5, 618.1, 900, "1h"),
    ("VOO", 1751463000, 567.0, 568.0, 566.0, 567.5, 100, "1h"),
]
CDC_ROWS_B = [
    ("SPY", 1751549400, 620.0, 630.0, 619.0, 620.5, 800, "1h"),
    ("VOO", 1751549400, 569.0, 570.0, 568.0, 569.5, 200, "1h"),
]
SUB_MEASURES = {"n": ("count", None), "vol": ("sum", "CAST(volume AS BIGINT)")}


def _fact_df(spark, rows):
    return spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)


def _assert_view_equals_recompute(mv, store):
    """The invariant every fold must keep: view == full recompute of the
    store's current physical snapshot."""
    fact = store.read_all(MODE)
    if fact is None:
        assert mv.read() is None or mv.read().count() == 0
        return
    expect = {
        tuple(r[k] for k in mv.group_cols): {m: r[m] for m in mv.measures}
        for r in mv._partial(fact).collect()
    }
    got = {
        tuple(r[k] for k in mv.group_cols): {m: r[m] for m in mv.measures}
        for r in mv.read().collect()
    }
    assert got == expect


def test_sync_subtractable_folds_mutations_without_fact_scan(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    res = mv.sync(store, MODE)
    assert (res["from"], res["to"]) == (0, 1)
    _assert_view_equals_recompute(mv, store)

    # MERGE: one payload correction (+pre/-post cancels in n, moves vol)
    # and one brand-new key
    src = [
        ("SPY", 1751463000, 617.0, 618.7, 616.6, 618.6, 5000, "1h"),
        ("IVV", 1751463000, 500.0, 501.0, 499.0, 500.5, 10, "1h"),
    ]
    store.merge(_fact_df(spark, src), MODE)
    res = mv.sync(store, MODE)
    assert res["recomputed_groups"] == 0  # subtractable: NO fact scan
    assert res["neg_rows"] == 1 and res["pos_rows"] == 2
    _assert_view_equals_recompute(mv, store)
    got = {r.ticker: (r.n, r.vol) for r in mv.read().collect()}
    assert got["SPY"] == (2, 5900)  # 1000 -> 5000 replaced, 900 kept

    # DELETE of a whole group: VOO leaves the view entirely
    store.delete_where(MODE, "ticker = 'VOO'")
    res = mv.sync(store, MODE)
    assert res["neg_rows"] == 1 and res["recomputed_groups"] == 0
    _assert_view_equals_recompute(mv, store)
    assert "VOO" not in {r.ticker for r in mv.read().collect()}


def test_sync_minmax_recomputes_only_retracted_groups(spark, tmp_path):
    """The classic MV bug: deleting the row that held the max must LOWER
    the view's max — additive partials can't, the bounded group
    recompute does."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    mv.sync(store, MODE)
    hi0 = {r.ticker: r.hi for r in mv.read().collect()}
    assert hi0["SPY"] == 630.0
    store.delete_where(MODE, "high = 630.0")
    res = mv.sync(store, MODE)
    assert res["recomputed_groups"] == 1  # SPY only — VOO untouched
    _assert_view_equals_recompute(mv, store)
    hi1 = {r.ticker: r.hi for r in mv.read().collect()}
    assert hi1["SPY"] == 619.0 and hi1["VOO"] == hi0["VOO"]


def test_sync_is_exactly_once_and_cursor_atomic(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    r1 = mv.sync(store, MODE)
    assert r1["to"] == 1 and mv.cursor() == 1
    # nothing new: a second sync folds NOTHING (the double-count guard)
    r2 = mv.sync(store, MODE)
    assert r2 == {"from": 1, "to": 1, "pos_rows": 0, "neg_rows": 0,
                  "recomputed_groups": 0}
    _assert_view_equals_recompute(mv, store)


def test_sync_refuses_view_without_cursor(spark, tmp_path):
    """Partials on disk with no cursor (a view written by the older
    per-delta refresh path, or a torn install) cannot be folded onto:
    sync refuses rather than refolding history on top of them, and
    init_from_snapshot heals the view."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    mv._partial(store.read_all(MODE)).write.parquet(mv.path)
    assert mv.cursor() is None
    with pytest.raises(ValueError, match="init_from_snapshot"):
        mv.sync(store, MODE)
    assert mv.init_from_snapshot(store, MODE) == 1
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    assert mv.sync(store, MODE)["pos_rows"] == len(CDC_ROWS_B)
    _assert_view_equals_recompute(mv, store)


def test_sync_advances_cursor_over_compaction_only_span(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    mv.sync(store, MODE)
    before = {r.ticker: (r.n, r.vol) for r in mv.read().collect()}
    store.compact(MODE)
    res = mv.sync(store, MODE)
    assert res["to"] == 3 and res["pos_rows"] == 0 and res["neg_rows"] == 0
    assert mv.cursor() == 3
    assert {r.ticker: (r.n, r.vol) for r in mv.read().collect()} == before


def test_sync_wide_span_skips_checkpoint_same_result(spark, tmp_path):
    """ADVICE r11 / r12: a bootstrap span wider than
    SPAN_CKPT_MAX_COMMITS must NOT pin the whole change feed with
    localCheckpoint — and must fold to the identical view either way
    (the un-pinned path re-reads the replayable CDC plan)."""
    from unittest import mock

    store = ManifestStore(spark, str(tmp_path / "cstore"))
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    store.merge(
        _fact_df(
            spark,
            [("SPY", 1751463000, 617.0, 618.7, 616.6, 618.6, 5000, "1h")],
        ),
        MODE,
    )

    mv = MatView(spark, str(tmp_path / "mv_wide"), ["ticker"], SUB_MEASURES)
    mv.SPAN_CKPT_MAX_COMMITS = 0  # force the wide-span (no-pin) path
    from pyspark.sql import DataFrame

    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        # the change span (and its pos/neg slices) carry _change_type;
        # the merged-view install checkpoint does not — only the span
        # pin is forbidden on the wide path
        assert "_change_type" not in self.columns, "change span was pinned"
        return orig(self, *a, **k)

    with mock.patch(
        "pyspark.sql.DataFrame.localCheckpoint", autospec=True,
        side_effect=spy,
    ):
        res = mv.sync(store, MODE)
    assert res["to"] == 3 and res["pos_rows"] == 6 and res["neg_rows"] == 1
    _assert_view_equals_recompute(mv, store)

    # control: the default (pinned) path folds to the identical view
    mv2 = MatView(spark, str(tmp_path / "mv_pin"), ["ticker"], SUB_MEASURES)
    res2 = mv2.sync(store, MODE)
    assert (res2["pos_rows"], res2["neg_rows"]) == (
        res["pos_rows"], res["neg_rows"]
    )
    assert {tuple(r) for r in mv2.read().collect()} == {
        tuple(r) for r in mv.read().collect()
    }


def test_init_from_snapshot_equals_sync_from_zero(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    a = MatView(spark, str(tmp_path / "mv_a"), ["ticker"], MEASURES)
    b = MatView(spark, str(tmp_path / "mv_b"), ["ticker"], MEASURES)
    a.sync(store, MODE)
    v = b.init_from_snapshot(store, MODE)
    assert v == 2 == a.cursor() == b.cursor()
    key = lambda mv: sorted(  # noqa: E731
        (r.ticker, r.n, r.vol, r.hi, r.lo) for r in mv.read().collect()
    )
    assert key(a) == key(b)
    # and both keep folding identically past the bootstrap
    store.delete_where(MODE, "ticker = 'VOO'")
    a.sync(store, MODE)
    b.sync(store, MODE)
    assert key(a) == key(b)


_CRASH_CHILD = r"""
import os, sys
sys.path.insert(0, {repo!r})
from stock_ops_spark import schemas as S
from stock_ops_spark.plans.matview import MatView
from stock_ops_spark.session import get_spark
from stock_ops_spark.sources.commitlog import ManifestLog, ManifestStore

spark = get_spark("mv-crash-child", master="local[1]", shuffle_partitions=2)
store = ManifestStore(spark, {store!r})
mv = MatView(spark, {mv!r}, ["ticker"], {measures!r})
fact = lambda rows: spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)
store.ingest_batch(fact({rows_a!r}), {mode!r})
mv.sync(store, {mode!r})
publish = ManifestLog.try_commit


def publish_then_die(self, version, payload):
    publish(self, version, payload)
    os._exit(0)  # killed right after the publish: nothing else runs


ManifestLog.try_commit = publish_then_die
store.ingest_batch(fact({rows_b!r}), {mode!r})
os._exit(3)  # not reached once the publish happened
"""


def test_sync_after_crash_between_publish_and_fold(spark, tmp_path):
    """A process killed right after a commit's publish leaves the view
    one commit behind; the next ``sync`` — in a fresh process — folds
    the published delta from the change feed, so the view equals the
    one a crash-free run builds."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root, path = str(tmp_path / "store"), str(tmp_path / "mv")
    script = tmp_path / "child.py"
    script.write_text(_CRASH_CHILD.format(
        repo=repo, store=root, mv=path, measures=SUB_MEASURES, mode=MODE,
        rows_a=CDC_ROWS_A, rows_b=CDC_ROWS_B,
    ))
    proc = subprocess.run(
        [sys.executable, str(script)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300,
    )
    assert proc.returncode == 0, "the child never reached the publish"

    store = ManifestStore(spark, root)
    mv = MatView(spark, path, ["ticker"], SUB_MEASURES)
    assert store.version(MODE) == 2 and mv.cursor() == 1
    assert mv.sync(store, MODE)["pos_rows"] == len(CDC_ROWS_B)

    clean = ManifestStore(spark, str(tmp_path / "clean"))
    want = MatView(spark, str(tmp_path / "mv_clean"), ["ticker"], SUB_MEASURES)
    for rows in (CDC_ROWS_A, CDC_ROWS_B):
        clean.ingest_batch(_fact_df(spark, rows), MODE)
    want.sync(clean, MODE)
    assert sorted(map(tuple, mv.read().collect())) == sorted(
        map(tuple, want.read().collect())
    )
    assert mv.cursor() == want.cursor() == 2
    _assert_view_equals_recompute(mv, store)


def test_fresh_view_syncs_from_converted_store(spark, tmp_path):
    """matview docstring promise: a fresh empty view can 'just sync'
    from cursor 0 — which requires convert_from's adopted snapshot to
    appear in the change feed (it is version 1's change set)."""
    from stock_ops_spark.sources.layout import PARTITION_COLS

    src = ManifestStore(spark, str(tmp_path / "src"))
    src.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    hive = str(tmp_path / "hive")
    src.read_all(MODE).write.partitionBy(*PARTITION_COLS[MODE]).parquet(hive)
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    store.convert_from(hive, MODE)
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    res = mv.sync(store, MODE)
    assert (res["from"], res["to"]) == (0, 1)
    assert res["pos_rows"] == len(CDC_ROWS_A)
    _assert_view_equals_recompute(mv, store)
    # and it keeps folding post-adoption ingests incrementally
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    res = mv.sync(store, MODE)
    assert (res["from"], res["to"]) == (1, 2)
    _assert_view_equals_recompute(mv, store)


def test_sync_raises_on_uncdc_retention_and_heals(spark, tmp_path):
    """A metadata-only retention (retain_before cdc=False) gaps the
    change feed; a CDC-synced view must fail LOUDLY on the next sync
    (never silently keep expired rows) and heal via init_from_snapshot."""
    from stock_ops_spark.sources.commitlog import ChangeFeedGap

    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    mv.sync(store, MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    store.retain_before(MODE, 1751500000)  # drops ROWS_A
    with pytest.raises(ChangeFeedGap):
        mv.sync(store, MODE)
    # heal: one full aggregate of the post-retention snapshot + cursor
    mv.init_from_snapshot(store, MODE)
    _assert_view_equals_recompute(mv, store)
    # and the feed resumes incrementally from the new cursor
    store.ingest_batch(
        _fact_df(spark, [("IVV", 1751650000, 1.0, 2.0, 0.5, 1.5, 5, "1h")]),
        MODE,
    )
    res = mv.sync(store, MODE)
    assert res["pos_rows"] == 1
    _assert_view_equals_recompute(mv, store)


def test_stream_sync_maintains_view_from_cdc_stream(spark, tmp_path):
    """stream_sync: ManifestStore commits -> stockops_cdc -> view, with
    sync()'s exact fold semantics per micro-batch and exactly-once
    across stream restarts and checkpoint replays."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], SUB_MEASURES)
    ckpt = str(tmp_path / "ckpt")
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)

    def drain():
        q = mv.stream_sync(store, MODE, ckpt, available_now=True)
        q.awaitTermination(300)
        q.stop()

    drain()
    assert mv.cursor() == 2
    _assert_view_equals_recompute(mv, store)

    # offline mutations: a MERGE correction + a DELETE, then resume
    src = [("SPY", 1751463000, 617.0, 618.7, 616.6, 618.6, 5000, "1h")]
    store.merge(_fact_df(spark, src), MODE)
    store.delete_where(MODE, "ticker = 'VOO'")
    drain()
    assert mv.cursor() == 4
    _assert_view_equals_recompute(mv, store)
    got = {r["ticker"]: (r["n"], r["vol"]) for r in mv.read().collect()}
    assert got["SPY"] == (3, 6700) and "VOO" not in got

    # replay safety: re-running the drained stream changes nothing
    before = sorted(map(tuple, mv.read().collect()))
    drain()
    assert sorted(map(tuple, mv.read().collect())) == before
    assert mv.cursor() == 4


# ---------------------------------------------------------------------------
# Dim-enriched (join) views — r8: MatView(join_dim=..., join_on=...)
# ---------------------------------------------------------------------------

def _dim(spark, rows=None):
    return spark.createDataFrame(
        rows or [("SPY", "A"), ("VOO", "B"), ("IVV", "A")],
        "ticker string, sector string",
    )


def _join_mv(spark, tmp_path, measures, dim=None):
    return MatView(
        spark,
        str(tmp_path / "jmv"),
        ["sector"],
        measures,
        join_dim=dim if dim is not None else _dim(spark),
        join_on=["ticker"],
    )


def test_join_view_requires_both_dim_args(spark, tmp_path):
    with pytest.raises(ValueError):
        MatView(spark, str(tmp_path / "x"), ["sector"], SUB_MEASURES,
                join_dim=_dim(spark))


def test_join_view_sync_through_ingest_merge_delete(spark, tmp_path):
    """view == recompute (fact ⋈ dim → group-by) through the full
    mutation lifecycle, folding only CDC deltas — never a fact rescan
    for subtractable measures."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = _join_mv(spark, tmp_path, SUB_MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    mv.sync(store, MODE)
    _assert_view_equals_recompute(mv, store)
    got = {r.sector: (r.n, r.vol) for r in mv.read().collect()}
    assert got == {"A": (2, 1900), "B": (1, 100)}

    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    # payload correction (update pre/post) + a brand-new key in sector A
    src = [
        ("SPY", 1751463000, 617.0, 618.7, 616.6, 618.6, 5000, "1h"),
        ("IVV", 1751463000, 500.0, 501.0, 499.0, 500.5, 10, "1h"),
    ]
    store.merge(_fact_df(spark, src), MODE)
    res = mv.sync(store, MODE)
    assert res["recomputed_groups"] == 0  # subtractable: no fact scan
    _assert_view_equals_recompute(mv, store)

    # deleting every VOO row empties sector B out of the view
    store.delete_where(MODE, "ticker = 'VOO'")
    mv.sync(store, MODE)
    _assert_view_equals_recompute(mv, store)
    assert "B" not in {r.sector for r in mv.read().collect()}


def test_join_view_minmax_recomputes_only_affected_sector(spark, tmp_path):
    """Retraction of a max-holding row recomputes ONLY the retracted
    row's SECTOR (the affected-group set lives in enriched space)."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = _join_mv(
        spark, tmp_path,
        {"n": ("count", None), "hi": ("max", "high")},
    )
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    mv.sync(store, MODE)
    hi0 = {r.sector: r.hi for r in mv.read().collect()}
    assert hi0["A"] == 630.0
    store.delete_where(MODE, "high = 630.0")
    res = mv.sync(store, MODE)
    assert res["recomputed_groups"] == 1  # sector A only
    _assert_view_equals_recompute(mv, store)
    hi1 = {r.sector: r.hi for r in mv.read().collect()}
    assert hi1["A"] == 619.0 and hi1["B"] == hi0["B"]


def test_join_view_unmatched_fact_rows_stay_outside(spark, tmp_path):
    """Inner-join contract: fact rows with no dim match never enter the
    view, and their retractions fold as no-ops — consistent on both
    sides of the equivalence."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    dim = _dim(spark, [("SPY", "A"), ("IVV", "A")])  # VOO uncovered
    mv = _join_mv(spark, tmp_path, SUB_MEASURES, dim=dim)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    mv.sync(store, MODE)
    _assert_view_equals_recompute(mv, store)
    got = {r.sector: (r.n, r.vol) for r in mv.read().collect()}
    assert got == {"A": (2, 1900)}  # VOO rows invisible
    store.delete_where(MODE, "ticker = 'VOO'")
    res = mv.sync(store, MODE)  # retraction of unmatched rows: no-op
    _assert_view_equals_recompute(mv, store)
    assert {r.sector: (r.n, r.vol) for r in mv.read().collect()} == got


def test_join_view_retention_gap_and_heal(spark, tmp_path):
    """cdc=False retention gaps the feed for a join view exactly as for
    a plain one: loud ChangeFeedGap, heal via init_from_snapshot (which
    enriches), incremental resume after."""
    from stock_ops_spark.sources.commitlog import ChangeFeedGap

    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = _join_mv(spark, tmp_path, SUB_MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    mv.sync(store, MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    store.retain_before(MODE, 1751500000)
    with pytest.raises(ChangeFeedGap):
        mv.sync(store, MODE)
    mv.init_from_snapshot(store, MODE)
    _assert_view_equals_recompute(mv, store)
    store.ingest_batch(
        _fact_df(spark, [("IVV", 1751650000, 1.0, 2.0, 0.5, 1.5, 5, "1h")]),
        MODE,
    )
    res = mv.sync(store, MODE)
    assert res["pos_rows"] == 1
    _assert_view_equals_recompute(mv, store)


def test_join_view_stream_sync(spark, tmp_path):
    """Continuous maintenance of the dim-enriched view from the CDC
    stream: exactly-once across drains and replays, mutations folded."""
    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = _join_mv(spark, tmp_path, SUB_MEASURES)
    ckpt = str(tmp_path / "ckpt")
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)

    def drain():
        q = mv.stream_sync(store, MODE, ckpt, available_now=True)
        q.awaitTermination(300)
        q.stop()

    drain()
    assert mv.cursor() == 2
    _assert_view_equals_recompute(mv, store)
    store.delete_where(MODE, "ticker = 'VOO'")
    drain()
    _assert_view_equals_recompute(mv, store)
    got = {r.sector: (r.n, r.vol) for r in mv.read().collect()}
    assert "B" not in got
    before = sorted(map(tuple, mv.read().collect()))
    drain()  # replay: nothing changes
    assert sorted(map(tuple, mv.read().collect())) == before


def test_join_view_sync_folds_post_dedup_deltas(spark, tmp_path):
    """A join view synced after every ingest folds only the post-dedup
    rows: every delta is enriched before the partial fold, and a
    replayed batch (deduped to nothing) leaves the view unchanged."""
    mv = _join_mv(spark, tmp_path, SUB_MEASURES)
    store = ManifestStore(spark, str(tmp_path / "store"))
    for rows in (CDC_ROWS_A, CDC_ROWS_B, CDC_ROWS_A):  # the last: a replay
        store.ingest_batch(_fact_df(spark, rows), MODE)
        mv.sync(store, MODE)
    expect = {
        r["sector"]: (r["n"], r["vol"])
        for r in mv._partial(
            _fact_df(spark, CDC_ROWS_A + CDC_ROWS_B)
        ).collect()
    }
    got = {r["sector"]: (r["n"], r["vol"]) for r in mv.read().collect()}
    assert got == expect


def test_retention_gap_heal_minmax(spark, tmp_path):
    """The retention-gap heal pinned for the NON-subtractable algebra
    (VERDICT r8 #6): min/max measures heal through init_from_snapshot
    exactly as sums do — the heal IS a snapshot recompute, so the
    retraction-blind partials can never resurrect an expired extremum —
    and post-heal deletes keep taking the recompute path."""
    from stock_ops_spark.sources.commitlog import ChangeFeedGap, ManifestStore

    store = ManifestStore(spark, str(tmp_path / "cstore"))
    mv = MatView(spark, str(tmp_path / "cmv"), ["ticker"], MEASURES)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_A), MODE)
    mv.sync(store, MODE)
    store.ingest_batch(_fact_df(spark, CDC_ROWS_B), MODE)
    store.retain_before(MODE, 1751500000)  # drops A
    with pytest.raises(ChangeFeedGap):
        mv.sync(store, MODE)
    mv.init_from_snapshot(store, MODE)
    _assert_view_equals_recompute(mv, store)
    # ROWS_A's extrema expired with the retention; the healed view must
    # carry only ROWS_B's (SPY high 630.0, not a resurrected 619.0)
    got = {r["ticker"]: r["hi"] for r in mv.read().collect()}
    assert got["SPY"] == pytest.approx(630.0)
    # post-heal delete of the SPY max takes the recompute path and the
    # max falls back correctly (no stale extremum)
    res = store.delete_where(MODE, "volume = 800")
    assert res["deleted"] == 1
    out = mv.sync(store, MODE)
    assert out["recomputed_groups"] == 1  # SPY only
    _assert_view_equals_recompute(mv, store)
