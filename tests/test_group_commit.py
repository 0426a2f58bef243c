"""Group commit (VERDICT r8 #3): ``ManifestStore.ingest_group``
coalesces queued key-disjoint batches into one commit.

Contracts pinned:
- PROVEN-disjoint groups produce the exact store sequential ingestion
  produces (rows, versions-per-key, table stats), in ONE commit;
- any possible key interaction (overlapping ranges, NULL keys) aborts
  before anything is written and falls back to sequential order;
- exact cross-batch duplicates stay exactly-once (attribution caveat
  documented on the method);
- the change feed sees a group as one commit, without the internal tag;
- the tag column never reaches the stored parquet.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.sources.commitlog import ManifestStore

pytestmark = pytest.mark.usefixtures("spark")

MODE = "historical_intraday"


def _batch(spark, tk: str, r: int, n: int = 40):
    rows = [
        (tk, 1751463000 + 60 * (500 * r + j), 1.0, 2.0, 0.5, 1.5, 100 + j, "1h")
        for j in range(n)
    ]
    return spark.createDataFrame(rows, schema=S.HISTORICAL_INTRADAY)


def _rows(store):
    df = store.read_all(MODE)
    return sorted(tuple(r) for r in df.collect()) if df is not None else []


def _stats(store):
    df = store.table_stats(MODE)
    return sorted(tuple(r) for r in df.collect()) if df is not None else []


def test_group_equals_sequential_one_commit(spark, tmp_path):
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    s = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    # disjoint three ways: two tickers + one time-disjoint later round
    bs = [
        _batch(spark, "AAA", 0),
        _batch(spark, "BBB", 0),
        _batch(spark, "AAA", 1),
    ]
    counts = g.ingest_group(bs, MODE)
    seq = [s.ingest_batch(b, MODE) for b in bs]
    assert counts == seq == [40, 40, 40]
    assert g.version(MODE) == 1  # ONE commit
    assert s.version(MODE) == 3
    assert _rows(g) == _rows(s)
    assert _stats(g) == _stats(s)


def test_group_overlap_falls_back_sequential(spark, tmp_path):
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    s = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    first = _batch(spark, "AAA", 0)
    # same key, different payload: a version conflict only sequential
    # semantics can order — must NOT take the group path
    upd = spark.createDataFrame(
        [("AAA", 1751463000, 9.9, 9.9, 9.9, 9.9, 1, "1h")],
        schema=S.HISTORICAL_INTRADAY,
    )
    counts = g.ingest_group([first, upd], MODE)
    seq = [s.ingest_batch(b, MODE) for b in [first, upd]]
    assert counts == seq == [40, 1]
    assert g.version(MODE) == 2  # sequential fallback commits per batch
    assert _rows(g) == _rows(s)
    # the conflicting key carries two versions in both stores
    two = (
        g.read_all(MODE)
        .where(F.col("timestamp_UTC_s") == 1751463000)
        .select("version")
        .collect()
    )
    assert sorted(r.version for r in two) == [1, 2]


def test_group_exact_crossbatch_dup_exactly_once(spark, tmp_path):
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    b1 = _batch(spark, "AAA", 0)
    b2 = _batch(spark, "AAA", 0)  # identical resend in the same group
    counts = g.ingest_group([b1, b2], MODE)
    assert sum(counts) == 40  # exactly-once rows
    assert g.read_all(MODE).count() == 40
    assert g.read_all(MODE).where(F.col("version") != 1).count() == 0


def test_group_null_key_falls_back(spark, tmp_path):
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    s = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    ok = _batch(spark, "AAA", 0, n=5)
    # the declared schema forbids NULL keys; a producer-side frame with
    # a laxer schema can still present one — the group must refuse to
    # prove disjointness over it (no rectangle bounds a NULL)
    nullts = spark.createDataFrame(
        [("BBB", None, 1.0, 2.0, 0.5, 1.5, 7, "1h")],
        "ticker string, timestamp_UTC_s long, open double, high double,"
        " low double, close double, volume long, interval string",
    )
    counts = g.ingest_group([ok, nullts], MODE)
    seq = [s.ingest_batch(b, MODE) for b in [ok, nullts]]
    assert counts == seq
    assert _rows(g) == _rows(s)
    assert g.version(MODE) == s.version(MODE)  # sequential path taken


def test_group_trivial_shapes(spark, tmp_path):
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    assert g.ingest_group([], MODE) == []
    assert g.ingest_group([_batch(spark, "AAA", 0, n=3)], MODE) == [3]
    assert g.version(MODE) == 1


def test_group_commit_is_one_untagged_feed_version(spark, tmp_path):
    """A group commit reaches the change feed as ONE ``_commit_version``
    carrying every batch's rows, without the internal batch tag."""
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    g.ingest_group([_batch(spark, "AAA", 0, n=4), _batch(spark, "BBB", 0, n=4)], MODE)
    feed = g.read_changes(MODE)
    assert "__gbid" not in feed.columns
    assert {r["_commit_version"] for r in feed.collect()} == {1}
    assert feed.count() == 8
    # and the stored parquet carries no tag column either
    assert "__gbid" not in g.read_all(MODE).columns


def test_group_then_single_interleave_reads_consistent(spark, tmp_path):
    """Mixed usage: group commits and single commits interleave on one
    store; stats and latest-view reads stay exact."""
    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    g.ingest_group([_batch(spark, "AAA", 0), _batch(spark, "BBB", 0)], MODE)
    g.ingest_batch(_batch(spark, "AAA", 1), MODE)
    g.ingest_group([_batch(spark, "BBB", 1), _batch(spark, "CCC", 0)], MODE)
    assert g.version(MODE) == 3
    assert g.read_all(MODE).count() == 200
    st = {r["ticker"]: r["row_count"] for r in g.table_stats(MODE).collect()}
    assert st == {"AAA": 80, "BBB": 80, "CCC": 40}


def test_group_missing_declared_column_matches_sequential(spark, tmp_path):
    """A batch MISSING a declared schema column must not be silently
    NULL-padded by the group union (r10, advice): the group entry point
    routes such groups to the sequential path, so the observable
    outcome — the plain path's AnalysisException, after the valid
    prefix committed — is exactly sequential ingestion's."""
    from pyspark.errors import AnalysisException

    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    s = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    good = _batch(spark, "AAA", 0, n=6)
    bad = _batch(spark, "BBB", 0, n=6).drop("close")
    with pytest.raises(AnalysisException):
        g.ingest_group([good, bad], MODE)
    with pytest.raises(AnalysisException):
        for b in (good, bad):
            s.ingest_batch(b, MODE)
    # sequential prefix semantics: the valid batch committed in both
    assert _rows(g) == _rows(s)
    assert g.version(MODE) == s.version(MODE) == 1


def test_coordinator_groups_concurrent_streams(spark, tmp_path):
    """GroupCommitCoordinator (r10, VERDICT #4): concurrent submitters
    with key-disjoint batches coalesce into FEWER commits than batches
    while the store ends exactly as sequential ingestion would."""
    import threading

    from stock_ops_spark.streaming.ingest import GroupCommitCoordinator

    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    s = ManifestStore(spark, str(tmp_path / "s"), auto_compact_every=0)
    coord = GroupCommitCoordinator(g, mode=MODE, linger_s=0.5)
    bs = [_batch(spark, tk, 0, n=20) for tk in ("AAA", "BBB", "CCC", "DDD")]
    results = {}

    def run(i):
        results[i] = coord.submit(bs[i], MODE)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results.values()) == [20, 20, 20, 20]
    for b in bs:
        s.ingest_batch(b, MODE)
    assert _rows(g) == _rows(s)
    assert _stats(g) == _stats(s)
    # fewer commits than batches, and the telemetry shows real groups
    assert g.version(MODE) < 4
    assert sum(coord.groups_committed) == 4
    assert max(coord.groups_committed) >= 2


def test_coordinator_single_submitter_degrades_to_plain(spark, tmp_path):
    from stock_ops_spark.streaming.ingest import GroupCommitCoordinator

    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    coord = GroupCommitCoordinator(g, mode=MODE, linger_s=0.05)
    assert coord.submit(_batch(spark, "AAA", 0, n=7), MODE) == 7
    assert coord.submit(_batch(spark, "AAA", 1, n=7), MODE) == 7
    assert g.version(MODE) == 2  # one commit per lone batch
    assert coord.groups_committed == [1, 1]


def test_coordinator_propagates_group_failure(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from stock_ops_spark.streaming.ingest import GroupCommitCoordinator

    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    coord = GroupCommitCoordinator(g, mode=MODE, linger_s=0.05)
    bad = _batch(spark, "AAA", 0, n=4).drop("close")
    with pytest.raises(AnalysisException):
        coord.submit(bad, MODE)


def test_coordinator_auto_linger_tracks_cadence(spark, tmp_path):
    """r11 (VERDICT #4): with linger_s='auto' (the new default) the
    leader derives each linger from the observed submit cadence —
    cold history uses the measured 0.1 s default; a phase-lock-shaped
    arrival history yields a linger that covers the burst span and
    stays below half the inter-burst gap.  A pinned float is honored
    verbatim."""
    from stock_ops_spark.plans.sizing import commit_linger_s
    from stock_ops_spark.streaming.ingest import GroupCommitCoordinator

    g = ManifestStore(spark, str(tmp_path / "g"), auto_compact_every=0)
    coord = GroupCommitCoordinator(g, mode=MODE)  # default: auto
    assert coord._resolve_linger() == 0.1  # no history -> r10 default
    # inject the r10 phase-lock cadence into the measurement window:
    # 4 streams, ~0.03 s intra-burst spread, ~0.5 s trigger period
    t = 100.0
    for _ in range(6):
        for gap in (0.03, 0.03, 0.04):
            coord._arrivals.append(t)
            t += gap
        coord._arrivals.append(t)
        t += 0.5
    auto = coord._resolve_linger()
    assert auto >= 0.10 - 1e-9      # covers the 0.1 s burst span
    assert auto <= 0.25             # below half the 0.5 s period
    # the sizing rule is the single source of truth
    arr = list(coord._arrivals)
    assert auto == commit_linger_s([b - a for a, b in zip(arr, arr[1:])])
    # pinned float: honored, and still commits correctly
    pinned = GroupCommitCoordinator(g, mode=MODE, linger_s=0.05)
    assert pinned._resolve_linger() == 0.05
    assert pinned.submit(_batch(spark, "AAA", 0, n=5), MODE) == 5
    assert pinned.lingers_used == [0.05]
