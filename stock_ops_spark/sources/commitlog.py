"""Manifest commit log: the crash window plain parquet cannot close,
closed.

``ParquetStore`` is crash-safe except for ONE documented window (see
``operators/stats.StatsTable``): a kill after the data append but
before the stats merge leaves the catalog a batch behind, healed only
by a maintenance-time ``rebuild_stats``.  The root cause is structural
— data files and catalog state are two writes with no transaction
around them.  ``ManifestStore`` adds the transaction, the same way
Delta Lake / Iceberg do, reduced to what plain files can guarantee:

- every ingest writes its data to a FRESH batch directory
  (``batch-<uuid>/``, invisible to readers — nothing lists it);
- the batch's stats INCREMENT parquet is written next, also invisible
  (r8: version-independent per-batch deltas; readers fold the last
  cumulative snapshot + the outstanding chain, and the chain is
  bounded by periodic folds and by mutation snapshots);
- then ONE atomic, put-if-absent commit file
  (``__log/<version>.json``) publishes {batch dirs, stats dirs}
  together.  ``os.link`` from a tmp name gives compare-and-swap on
  POSIX (rename would silently overwrite a racing writer's commit).

A SIGKILL anywhere leaves either no commit (data + stats dirs are
unreferenced orphans, swept by ``gc_orphans``; the streaming replay
re-ingests the batch) or a complete commit.  There is no torn state
and no stats lag — ``rebuild_stats`` becomes unnecessary here.

Concurrent writers get optimistic concurrency: the commit encodes the
expected version; on collision the loser recomputes its delta against
the refreshed state (its dedup/version assignment may genuinely change)
and retries.  Readers get snapshot isolation and TIME TRAVEL for free:
``read_all(mode, at_version=k)`` folds commits 1..k.

Compaction rewrites many batch dirs into one and publishes
removes+adds in a single commit — readers switch snapshots atomically;
the old dirs stay until GC, so in-flight readers finish correctly.

Reference parity: the reference's SQLite writer gets all of this from
SQLite's own journal (src/stockops/data/database/sql_db.py — one
process, one file, BEGIN..COMMIT); this module is the multi-writer,
multi-file distributed equivalent.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.stats import batch_stats, fold_stats, merge_stats
from stock_ops_spark.operators.versioning import latest_version_view
from stock_ops_spark.sources.microcommit import (
    Delta,
    as_catalog_stats,
    collect_micro,
    materialize_micro,
)

# Commits reach write_micro through Delta.write; the name stays importable
# here because perfbench's traced run wraps it at this module.
from stock_ops_spark.sources.microcommit import write_micro  # noqa: F401
from stock_ops_spark.sources.ingest import (
    _MAX_PRUNE_PARTITIONS,
    cluster_for_write,
    compute_versioned_delta,
)
from stock_ops_spark.sources.layout import (
    PARTITION_COLS,
    mode_root,
    with_partition_cols,
)


def _j(v):
    """JSON-coerce a bound for the commit payload: dates and other
    non-JSON scalars become their ISO/str form, which orders the same."""
    return v if v is None or isinstance(v, (int, float, str)) else str(v)


def _span(lo, hi) -> list:
    """[min of ``lo``, max of ``hi``] (Arrow arrays), NULLs ignored."""
    return [_j(pc.min(lo).as_py()), _j(pc.max(hi).as_py())]


def _meta_of(stats, tsc: str) -> dict:
    """Per-dir data-skipping bounds from a grouped-stats table (keyed by
    ticker, with ``rc``/``lo``/``hi``): [min, max] of ticker and of the
    mode's time column, NULLs ignored, plus the dir's row count — the
    same shape as ``ManifestStore._dir_meta``."""
    return {
        "ticker": _span(stats["ticker"], stats["ticker"]),
        tsc: _span(stats["lo"], stats["hi"]),
        # per-dir row count: free here, and it makes the live store size
        # a DRIVER-SIDE fold of the manifest — the auto-compaction
        # cadence reads it without a Spark job
        "n": pc.sum(stats["rc"]).as_py() or 0,
    }


def _touched_parts(stats, parts: list[str]) -> list[tuple]:
    """The distinct partition tuples of a grouped-stats table's ``tp``
    lists, or ``[]`` — ``compute_versioned_delta``'s "known over-cap" —
    when there are more than ``_MAX_PRUNE_PARTITIONS`` (one key's list
    hit its cap, or the union is past it)."""
    tp = stats["tp"]
    if stats.num_rows and (
        pc.max(pc.list_value_length(tp)).as_py() > _MAX_PRUNE_PARTITIONS
    ):
        return []
    flat = pa.Table.from_struct_array(pc.list_flatten(tp).combine_chunks())
    uniq = flat.group_by(parts, use_threads=False).aggregate([])
    if uniq.num_rows > _MAX_PRUNE_PARTITIONS:
        return []
    return list(zip(*(uniq[c].to_pylist() for c in parts)))


def _probe(df: DataFrame) -> Delta:
    """A ``Delta`` for a frame that is cheap to re-read but not yet
    materialized (a rewrite over checkpointed parts, a change set): the
    ``collect_micro`` probe, with the row count known only when it
    collected."""
    tbl = collect_micro(df)
    return Delta(df, None if tbl is None else tbl.num_rows, tbl)


class CommitConflict(Exception):
    """Another writer published this version first; recompute and retry."""


class VacuumedVersion(Exception):
    """The requested version's history was truncated by ``vacuum``."""


class _GroupOverlap(Exception):
    """Internal: a group-commit's batches could not be PROVEN
    key-disjoint; the caller falls back to sequential ingestion."""


#: caller-internal batch-id tag column carried through the group-commit
#: versioned-delta pass (excluded from payload/dedup/tiebreak/write)
_GBID = "__gbid"


class ChangeFeedGap(Exception):
    """The requested change-feed span crosses a commit whose row-level
    changes were deliberately not recorded (``retain_before(cdc=False)``
    — the metadata-only retention path).  Consumers re-bootstrap from a
    snapshot at/after that commit, exactly like the vacuum case."""


class ManifestLog:
    """An append-only sequence of numbered JSON commits for one dataset."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def _path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.json")

    def version(self) -> int:
        """Highest committed version (0 = empty log)."""
        try:
            names = os.listdir(self.log_dir)
        except OSError:
            return 0
        best = 0
        for n in names:
            if n.endswith(".json") and n[:-5].isdigit():
                best = max(best, int(n[:-5]))
        return best

    def min_version(self) -> int:
        """Lowest retained commit (0 = empty log).  1 until ``vacuum``
        truncates history; afterwards the earliest retained commit is a
        self-contained checkpoint, so folding from it is complete."""
        try:
            names = os.listdir(self.log_dir)
        except OSError:
            return 0
        best = 0
        for n in names:
            if n.endswith(".json") and n[:-5].isdigit():
                v = int(n[:-5])
                best = v if best == 0 else min(best, v)
        return best

    def commits(self, upto: int | None = None) -> list[dict]:
        # A concurrent vacuum can remove a commit file between this
        # fold's listing and its open; the horizon only ever ADVANCES,
        # so re-reading min_version and retrying converges (bounded).
        last_err: FileNotFoundError | None = None
        for _attempt in range(5):
            v = self.version() if upto is None else upto
            if v <= 0:
                return []
            lo = self.min_version()
            if lo == 0:
                return []
            if v < lo:
                raise VacuumedVersion(
                    f"version {v} was vacuumed; earliest retained is {lo}"
                )
            out = []
            try:
                for i in range(lo, v + 1):
                    with open(self._path(i)) as f:
                        out.append(json.load(f))
                return out
            except FileNotFoundError as e:
                last_err = e
                continue
        raise last_err

    def state(self, at_version: int | None = None) -> dict:
        """Fold commits → {'version', 'dirs', 'stats', 'meta'} where
        'dirs' is the live batch-dir list, 'stats' the LATEST commit's
        stats pointer (stats are cumulative snapshots, not deltas) and
        'meta' the per-dir data-skipping bounds ({dir: {col: [lo, hi]}};
        dirs written before the skipping feature simply have no entry
        and are never pruned)."""
        commits = self.commits(upto=at_version)
        dirs: list[str] = []
        seen: set[str] = set()  # membership twin of `dirs` (keeps the
        # fold linear; dirs alone would make every add/remove an O(n)
        # list scan — measured 2x on a 4k-dir checkpoint)
        stats = None
        stats_incs: list[dict] = []
        meta: dict[str, dict] = {}
        for c in commits:
            removes = c.get("removes", [])
            if removes:
                rm = {r for r in removes if r in seen}
                if rm:
                    dirs = [d for d in dirs if d not in rm]
                    seen -= rm
                    for r in rm:
                        meta.pop(r, None)
            for a in c.get("adds", []):
                # idempotent re-add: a vacuum that crashed between
                # writing the checkpoint and deleting older commits
                # leaves dirs listed both by an old commit and by the
                # checkpoint — folding must not read them twice
                if a not in seen:
                    dirs.append(a)
                    seen.add(a)
            meta.update(c.get("meta") or {})
            # Stats pointers, two shapes (r8):
            # - "stats": a CUMULATIVE snapshot — resets the increment
            #   chain (a mutation/fold materialized everything so far);
            #   carried-forward snapshots (compact/restore/checkpoint)
            #   also carry "stats_incs", the outstanding chain verbatim.
            # - "stats_inc": an ingest's batch-only INCREMENT — appends
            #   to the chain; readers fold snapshot + chain
            #   (sum/min/max per key is associative).
            if "stats" in c or "stats_incs" in c:
                stats = c.get("stats")
                stats_incs = list(c.get("stats_incs") or [])
            if c.get("stats_inc"):
                stats_incs.append(c["stats_inc"])
        version = commits[-1]["version"] if commits else 0
        return {"version": version, "dirs": dirs, "stats": stats,
                "stats_incs": stats_incs, "meta": meta}

    def try_commit(self, version: int, payload: dict) -> None:
        """Put-if-absent publish of ``version``; raises CommitConflict
        if that version already exists (the POSIX compare-and-swap:
        ``os.link`` fails with EEXIST where rename would overwrite)."""
        os.makedirs(self.log_dir, exist_ok=True)
        final = self._path(version)
        tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
        doc = dict(payload, version=version)
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(f"version {version} already committed") from None
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between optimistic-concurrency
    retries.  Without it two sustained writers can PHASE-LOCK: the
    slower one's recompute window (delta + write + stats, ~seconds)
    always overlaps the faster one's next commit, so it loses every
    retry while the winner never even sees a collision — observed live
    in the two-process race test (5 straight losses, rival 0 conflicts).
    Randomized sleep desynchronizes the writers so the loser's commit
    lands between the winner's."""
    time.sleep(random.uniform(0.05, min(2.0, 0.2 * (2 ** attempt))))


class ManifestStore:
    """``ParquetStore``'s ingest semantics under a manifest commit log.

    Same dedup/versioning/stats contract (shared helpers in
    ``sources/ingest.py``); different physical layout:

        <root>/<provider>/<exchange>/<mode>/batch-<uuid>/<hive parts>/
        <root>/<provider>/<exchange>/<mode>__log/NNNNNNNN.json
        <root>/<provider>/<exchange>/<mode>__log/stats-NNNNNNNN-<uuid>/

    Reads fold the manifest: each live batch dir is read with its own
    basePath (Spark refuses partition discovery across non-Hive
    intermediate dirs) and the union is by name with missing columns
    NULL-filled — the same evolution contract as mergeSchema.
    """

    MAX_COMMIT_RETRIES = 5

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        provider: str = "EODHD",
        exchange: str = "US",
        tz: str = "America/New_York",
        auto_compact_every: "int | str" = "auto",
        observers: list | None = None,
    ):
        self.spark = spark
        self.root = root
        self.provider = provider
        self.exchange = exchange
        self.tz = tz
        # Same contract as ParquetStore.observers, with one OCC nuance:
        # observers fire only AFTER try_commit succeeds — a losing
        # attempt's delta was computed against a stale version and is
        # recomputed on retry, so folding it would double-count exactly
        # the rows the winner already committed.
        self.observers = list(observers or [])
        # Reads union one relation per live batch dir, so read (and the
        # ingest dedup probe, which reads) degrades linearly in commits
        # since the last compaction — measured 4x rows/s loss at 100
        # uncompacted micro-batches.  Folding every K commits bounds the
        # union at K relations, amortizing one rewrite across K ingests
        # (Delta's OPTIMIZE cadence).  0 disables; an int pins the
        # cadence; "auto" (default, r8) derives it per commit from the
        # live row count — a driver-side fold of the per-dir "n" meta,
        # no Spark job — via plans/sizing.compact_cadence: the cadence
        # GROWS with the store because each rewrite costs more while
        # the per-dir read tax stays constant.
        self.auto_compact_every = auto_compact_every

    # -- paths -----------------------------------------------------------
    def data_path(self, mode: str) -> str:
        return mode_root(self.root, mode, self.provider, self.exchange)

    def log(self, mode: str) -> ManifestLog:
        return ManifestLog(self.data_path(mode) + "__log")

    # -- read ------------------------------------------------------------
    def _read_dirs(self, mode: str, dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        frames = []
        for d in dirs:
            p = os.path.join(self.data_path(mode), d)
            frames.append(
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", p)
                .parquet(p)
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read_all(self, mode: str, at_version: int | None = None) -> DataFrame | None:
        """Current (or time-travel) snapshot.  Every dir it reads was
        published by a complete commit, so there is no torn-footer
        debris to tolerate — the reason ``ParquetStore.read_all`` needs
        an UNABLE_TO_INFER_SCHEMA escape and this does not."""
        state = self.log(mode).state(at_version)
        return self._read_dirs(mode, state["dirs"])

    def version(self, mode: str) -> int:
        return self.log(mode).version()

    def read_where(
        self,
        mode: str,
        ticker: str | None = None,
        ts_min=None,
        ts_max=None,
        at_version: int | None = None,
        stats: dict | None = None,
    ) -> DataFrame | None:
        """Predicate read with COMMIT-LEVEL data skipping: batch dirs
        whose recorded [min, max] bounds (``_dir_meta``, kept in the
        commit payload and folded by ``state()``) provably miss the
        predicate are never handed to Spark at all — no file listing,
        no footer read, no plan relation.  Parquet's own footer stats
        prune row groups only after every file is opened; at 10^4+
        batch dirs the listing itself is the cost, and this is the
        manifest-level skip Delta/Iceberg use.  Dirs with no recorded
        meta (pre-feature commits) are conservatively read.  The same
        predicate is re-applied as a residual filter, so pruning is an
        optimization, never a semantics change."""
        tsc = S.TS_COL[mode]
        state = self.log(mode).state(at_version)
        meta = state["meta"]

        def overlaps(m: dict | None) -> bool:
            if not m:
                return True  # unknown bounds: must read
            tk = m.get("ticker")
            if ticker is not None and tk and tk[0] is not None:
                if _j(ticker) < tk[0] or _j(ticker) > tk[1]:
                    return False
            tb = m.get(tsc)
            if tb and tb[0] is not None:
                if ts_max is not None and _j(ts_max) < tb[0]:
                    return False
                if ts_min is not None and _j(ts_min) > tb[1]:
                    return False
            return True

        keep = [d for d in state["dirs"] if overlaps(meta.get(d))]
        if stats is not None:
            stats["dirs_total"] = len(state["dirs"])
            stats["dirs_read"] = len(keep)
        df = self._read_dirs(mode, keep)
        if df is None:
            return None
        if ticker is not None:
            df = df.where(F.col("ticker") == ticker)
        if ts_min is not None:
            df = df.where(F.col(tsc) >= ts_min)
        if ts_max is not None:
            df = df.where(F.col(tsc) <= ts_max)
        return df

    def latest(self, mode: str) -> DataFrame | None:
        df = self.read_all(mode)
        if df is None:
            return None
        return latest_version_view(df, S.INDEX_COLS[mode])

    # -- stats (atomic with data — THE point) ------------------------------
    def _stats_state(self, mode: str, at_version: int | None = None):
        """(cumulative snapshot ptr | None, outstanding increment ptrs)."""
        state = self.log(mode).state(at_version)
        return state["stats"], state["stats_incs"]

    _STATS_KEYS = {"table": ["ticker"], "interval": ["ticker", "interval"]}

    def _read_stats(self, mode: str, which: str, at_version: int | None = None):
        """Current stats view: the last cumulative snapshot FOLDED with
        every ingest increment committed since (r8).  The fold is one
        union + one aggregate over tiny frames — sum/min/max per key is
        associative, so a single groupBy equals the iterated
        ``merge_stats`` the per-commit snapshot path used to run.  The
        chain is bounded: ingest materializes a fresh snapshot every
        ``STATS_FOLD_EVERY`` increments and every mutation/compaction
        materializes too."""
        cum, incs = self._stats_state(mode, at_version)
        log_dir = self.log(mode).log_dir
        paths = []
        if cum and which in cum:
            paths.append(os.path.join(log_dir, cum[which]))
        paths.extend(
            os.path.join(log_dir, i[which]) for i in incs if which in i
        )
        if not paths:
            return None
        df = self.spark.read.parquet(*paths)
        if len(paths) == 1:
            return df
        keys = self._STATS_KEYS[which]
        return df.groupBy(*keys).agg(
            F.sum("row_count").alias("row_count"),
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
        )

    def table_stats(self, mode: str) -> DataFrame | None:
        return self._read_stats(mode, "table")

    def interval_stats(self, mode: str) -> DataFrame | None:
        return self._read_stats(mode, "interval")

    def _write_stats_increment(
        self, log, stats_dir: str, mode: str, grows
    ) -> dict:
        """Materialize one ingest's stats increment from the already-
        computed grouped-stats table (``Delta.stat_rows``) — pyarrow on
        the driver, zero Spark jobs (r8).  The table is small by contract
        (the keys ONE batch touches); ``fold_stats`` folds it to the
        catalog keys (dropping a group commit's batch ids, and interval
        for the table stats), and ``as_catalog_stats`` gives the files
        ``batch_stats``'s exact schema, so ``_read_stats`` folds them
        with Spark-written snapshots interchangeably."""
        import pyarrow.parquet as pq

        whichs = ["table"] if mode == "streaming" else ["table", "interval"]
        os.makedirs(os.path.join(log.log_dir, stats_dir), exist_ok=True)
        stats_ptr = {}
        for which in whichs:
            keys = self._STATS_KEYS[which]
            rel = os.path.join(stats_dir, which)
            pq.write_table(
                as_catalog_stats(fold_stats(grows, keys), keys, mode),
                os.path.join(log.log_dir, rel),
            )
            stats_ptr[which] = rel
        return stats_ptr

    # -- write -----------------------------------------------------------
    MAX_FAST_RETRIES = 24  # cheap logical-conflict retries (no recompute)

    @staticmethod
    def _bounds_disjoint(a, b) -> bool:
        """True when two [lo, hi] ranges provably do NOT intersect
        (missing/None bounds = unknown = may intersect)."""
        if not a or not b or a[0] is None or b[0] is None:
            return False
        return a[1] < b[0] or b[1] < a[0]

    def _interleaved_commits_safe(
        self, mode: str, base_version: int, upto: int, dir_meta: dict
    ) -> bool:
        """Delta-style LOGICAL conflict detection: is a delta computed
        against ``base_version`` still valid at ``upto``?

        A blind append's dedup/version assignment can only change if an
        interleaved commit touched ITS keys.  A key collision needs both
        the same ticker AND the same timestamp, so an interleaved ingest
        whose recorded (ticker, ts) bounds are disjoint from this
        batch's on EITHER axis provably shares no keys.  Compaction and
        vacuum checkpoints are physical-only.  Anything else (merge /
        delete / retain / restore, a commit without bounds, vacuumed
        history) returns False — the caller falls back to the full
        recompute.  This is what keeps sustained multi-writer ingest
        live: without it the slower writer PHASE-LOCKS (its ~seconds
        recompute always overlaps the faster writer's next commit) and
        starves through every retry — observed in the two-process race
        test before this path existed."""
        log = self.log(mode)
        if log.min_version() > base_version + 1:
            return False  # vacuum ate interleaved history: can't verify
        try:
            commits = log.commits(upto=upto)
        except (VacuumedVersion, FileNotFoundError):
            return False
        tsc = S.TS_COL[mode]
        for c in commits:
            if c["version"] <= base_version:
                continue
            op = c.get("op") or ("compact" if c.get("removes") else "ingest")
            if op in ("compact", "checkpoint"):
                continue  # physical rewrite: no logical change
            if op not in ("ingest", "convert"):
                return False
            for d in c.get("adds", []):
                m = (c.get("meta") or {}).get(d)
                if not m:
                    return False
                if not (
                    self._bounds_disjoint(m.get("ticker"), dir_meta["ticker"])
                    or self._bounds_disjoint(m.get(tsc), dir_meta[tsc])
                ):
                    return False
        return True

    STATS_FOLD_EVERY = 32  # materialize a cumulative stats snapshot
    # once the increment chain reaches this length — bounds the
    # _read_stats fold and the carried "stats_incs" lists

    def ingest_batch(self, batch: DataFrame, mode: str) -> int:
        """One batch, one commit — see ``_ingest_frame`` for the
        optimistic-concurrency contract."""
        return self._ingest_frame(batch, mode, n_bids=None)

    def ingest_group(self, batches: list, mode: str) -> list[int]:
        """GROUP COMMIT (r8 directive #3): coalesce queued KEY-DISJOINT
        batches into ONE commit — one versioned-delta pass, one parquet
        write, one stats increment, one commit race — amortizing the
        ~3-Spark-job fixed cost that dominates per-commit latency
        (profiled r9: ~1.3 s/commit of JVM round-trips at the 500-row
        scale, independent of batch size) across the whole group, and
        cutting the multi-writer conflict rate by the group factor.

        Disjointness is PROVEN, not assumed, from the same grouped-
        stats job the single-batch path already runs: two batches may
        interact only if they share a (ticker[, interval]) group with
        overlapping ts ranges — an interacting key would be a row in
        both rectangles.  Any such pair (or any NULL key, which no
        rectangle can bound) aborts the group BEFORE anything is
        written and falls back to sequential ``ingest_batch`` in list
        order, so observable semantics are exactly sequential
        ingestion; when the group path runs, union-level dedup equals
        sequential dedup BECAUSE no key crosses batches.

        Group size is the latency/amortization knob: tens of batches
        per group amortize the fixed jobs fully; hundreds make the
        union's analyzer cost visible and delay the first batch's
        durability by the whole group — callers draining a queue should
        cap the group (the bench uses 4–8).

        Returns per-batch appended-row counts.  One caveat, pinned in
        tests: a row submitted IDENTICALLY by two batches of the same
        group is appended once (exactly-once holds) but attributed to
        one of the two arbitrarily — sequential ingestion attributes it
        to the earlier batch.  Atomicity is all-or-nothing for the
        group (stronger than sequential's prefix-on-crash)."""
        if not batches:
            return []
        if len(batches) == 1:
            return [self.ingest_batch(batches[0], mode)]
        # Schema gate (r10, advice): the tag-union below uses
        # ``allowMissingColumns=True`` so a batch MISSING a declared
        # schema column would be silently NULL-padded and committed,
        # where plain ``ingest_batch`` (and therefore the sequential
        # fallback) raises on the same input.  Route any such group to
        # the sequential path up front so observable semantics are
        # EXACTLY sequential ingestion for malformed batches too —
        # whatever error (or tolerance) the plain path has, the group
        # entry point now has identically.
        declared = set(S.SCHEMAS[mode].fieldNames())
        if any(declared - set(b.columns) for b in batches):
            return [self.ingest_batch(b, mode) for b in batches]
        tagged = batches[0].withColumn(_GBID, F.lit(0))
        for i, b in enumerate(batches[1:], 1):
            tagged = tagged.unionByName(
                b.withColumn(_GBID, F.lit(i)), allowMissingColumns=True
            )
        try:
            return self._ingest_frame(tagged, mode, n_bids=len(batches))
        except _GroupOverlap:
            return [self.ingest_batch(b, mode) for b in batches]

    @staticmethod
    def _check_group_disjoint(grows, gb_base: list) -> None:
        """Prove pairwise key-disjointness of a group's batches from the
        per-(group key, batch id) stat rows of the POST-DEDUP delta, or
        raise ``_GroupOverlap``.  Sound because a key shared by two
        batches either survives dedup in both (two stat rows whose
        [lo, hi] ranges contain the shared ts → ranges intersect →
        caught) or was an exact duplicate (one surviving copy — content
        identical to what sequential ingestion stores).  NULL keys and
        NULL timestamps fall outside every rectangle → conservative
        abort."""
        per: dict = {}
        for r in grows.to_pylist():
            if (
                r["ticker"] is None
                or r["lo"] is None
                or r["nts"] != r["rc"]
            ):
                raise _GroupOverlap
            k = tuple(r[c] for c in gb_base)
            per.setdefault(k, []).append((r["lo"], r["hi"], r[_GBID]))
        for lst in per.values():
            if len(lst) == 1:
                continue
            lst.sort()
            for (_, h1, b1), (l2, _, b2) in zip(lst, lst[1:]):
                # distinct bids by construction (one stat row per
                # (key, bid)); ranges may not even touch: an equal ts
                # in both batches would be the same index key
                if b1 != b2 and l2 <= h1:
                    raise _GroupOverlap

    def _ingest_frame(
        self, batch: DataFrame, mode: str, n_bids: int | None
    ) -> int | list[int]:
        """Exactly ``ParquetStore.ingest_batch``'s contract, atomically.

        Optimistic concurrency, two-tier:

        - FAST path (the common multi-writer case): on a commit
          collision where every interleaved commit is a key-disjoint
          ingest (``_interleaved_commits_safe``), the already-written
          batch dir, version assignment AND stats increment are still
          exactly right — the re-commit is a pure filesystem op (r8:
          the per-commit stats snapshot became a version-independent
          increment, so nothing Spark-side re-runs).
        - SLOW path: any interleaved mutation or key overlap invalidates
          the dedup/version assignment, so the whole body re-runs
          against the fresh state (bounded retries, jittered backoff).

        Per-commit cost (r8): the delta is computed OPTIMISTICALLY as a
        pure append (no store probe at all) and its grouped-stats
        collect doubles as the bounds probe: only when some live dir's
        recorded (ticker, ts) rectangle actually intersects the batch's
        does the dedup/version pass re-run against just those dirs (an
        existing key equal to a batch key lies inside both rectangles,
        so disjoint dirs provably contribute nothing to the anti-join
        or the prior-max-version probe).  A time-ordered or
        ticker-sharded workload therefore commits in THREE Spark jobs
        (checkpoint, grouped stats, write) regardless of store size;
        overlapping or replayed batches pay the probe read on top,
        pruned to the overlapping dirs."""
        parts = PARTITION_COLS[mode]
        log = self.log(mode)
        tsc = S.TS_COL[mode]
        ign = (_GBID,) if n_bids else ()
        gb_base = ["ticker"] if mode == "streaming" else ["ticker", "interval"]
        gb = gb_base + list(ign)

        def _zero():
            return [0] * n_bids if n_bids else 0

        def _materialize(v):
            """(Delta, stat rows): one eager checkpoint with the row count
            riding as an Observation; the stat rows come from the
            grouped-stats kernel when the delta proved micro, else from
            one grouped-aggregate job (see sources/microcommit.py).  The
            Delta's DataFrame is the checkpointed one — parallel
            partitions for the overlap re-dedup."""
            d = materialize_micro(v)
            if not d.n:
                return d, None
            return d, d.stat_rows(gb, tsc, parts, _MAX_PRUNE_PARTITIONS)

        for _attempt in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            versioned = compute_versioned_delta(
                batch, None, mode, self.tz, ignore_cols=ign
            )
            delta, grows = _materialize(versioned)
            if not delta.n:
                return _zero()
            if n_bids:
                # prove pairwise batch disjointness BEFORE any write;
                # raises _GroupOverlap -> caller ingests sequentially
                self._check_group_disjoint(grows, gb_base)
            n = delta.n
            dir_meta = _meta_of(grows, tsc)
            # rectangle pruning is only sound when every key is non-NULL
            # (NULL keys fall outside any recorded bounds)
            keys_total = (
                pc.sum(grows["nts"]).as_py() == n
                and grows["ticker"].null_count == 0
                and dir_meta[tsc][0] is not None
            )
            meta = state["meta"]

            def _may_touch(m: dict | None) -> bool:
                if not m:
                    return True  # unknown bounds: must read
                return not (
                    self._bounds_disjoint(m.get("ticker"), dir_meta["ticker"])
                    or self._bounds_disjoint(m.get(tsc), dir_meta[tsc])
                )

            overlap = (
                [d for d in state["dirs"] if _may_touch(meta.get(d))]
                if keys_total
                else list(state["dirs"])
            )
            if overlap:
                # some live dir may share keys: re-run the dedup/version
                # pass against just those dirs.  The optimistic delta is
                # the checkpointed, already-routed batch — re-planning
                # from it avoids re-paying the batch's own source.
                existing = self._read_dirs(mode, overlap)
                versioned = compute_versioned_delta(
                    delta.df.drop("version", *parts),
                    existing,
                    mode,
                    self.tz,
                    touched=_touched_parts(grows, parts) if parts else None,
                    ignore_cols=ign,
                )
                delta, grows = _materialize(versioned)
                # no group re-check needed: the store anti-join only
                # REMOVES rows — it cannot create cross-batch overlap
                if not delta.n:
                    return _zero()
                n = delta.n
                dir_meta = _meta_of(grows, tsc)
            base_version = state["version"]
            new_version = base_version + 1
            batch_dir = f"batch-{uuid.uuid4().hex[:12]}"
            out = delta.drop(*ign)
            # distinct partition-tuple count, free from the stats rows:
            # pins the write's repartition width so each partition value
            # is one task and its file create runs in parallel (r12 —
            # see cluster_for_write)
            n_parts = len(_touched_parts(grows, parts)) if parts else None
            # micro deltas: files come straight from the collected Arrow
            # table, driver-side — the fresh batch dir stays invisible
            # until the manifest rename, so the crash model is unchanged
            out.write(
                os.path.join(self.data_path(mode), batch_dir),
                mode,
                n_parts=n_parts,
            )

            # batch-only stats depend ONLY on this delta — written ONCE
            # as a version-independent INCREMENT (r8); readers fold it.
            # The increment files come straight from the grouped rows
            # above via pyarrow: zero extra Spark jobs.  Every
            # STATS_FOLD_EVERY increments, materialize a cumulative
            # snapshot instead (the Spark merge path) so the fold chain
            # stays bounded.
            fold_now = len(state["stats_incs"]) >= self.STATS_FOLD_EVERY
            whichs = (
                [("table", False)]
                if mode == "streaming"
                else [("table", False), ("interval", True)]
            )
            if fold_now:
                stats_dir = f"stats-{new_version:08d}-{uuid.uuid4().hex[:8]}"
                stats_ptr = {}
                for which, by_interval in whichs:
                    bdf = merge_stats(
                        self._read_stats(mode, which),
                        batch_stats(out.df, mode, by_interval),
                        self._STATS_KEYS[which],
                    )
                    rel = os.path.join(stats_dir, which)
                    bdf.coalesce(1).write.parquet(
                        os.path.join(log.log_dir, rel)
                    )
                    stats_ptr[which] = rel
            else:
                stats_dir = f"stats-inc-{uuid.uuid4().hex[:12]}"
                stats_ptr = self._write_stats_increment(
                    log, stats_dir, mode, grows
                )
            stats_key = "stats" if fold_now else "stats_inc"

            for _fast in range(self.MAX_FAST_RETRIES):
                try:
                    log.try_commit(
                        new_version,
                        {
                            "adds": [batch_dir],
                            "removes": [],
                            stats_key: stats_ptr,
                            "meta": {batch_dir: dir_meta},
                            "op": "ingest",
                            "ts": time.time(),
                        },
                    )
                    if self.auto_compact_every:
                        st = log.state()
                        if self.auto_compact_every == "auto":
                            from stock_ops_spark.plans.sizing import (
                                compact_cadence,
                            )

                            live_rows = sum(
                                (st["meta"].get(d) or {}).get("n") or 0
                                for d in st["dirs"]
                            )
                            cadence = compact_cadence(live_rows)
                        else:
                            cadence = self.auto_compact_every
                        if len(st["dirs"]) >= cadence:
                            # best-effort fold; a lost race just means
                            # another writer compacted (or appended —
                            # next ingest retries)
                            try:
                                self.compact(mode)
                            except RuntimeError:
                                pass
                    for obs in self.observers:
                        obs(out.df, mode)
                    if n_bids:
                        per = fold_stats(grows, [_GBID], mins=(), maxs=())
                        got = dict(zip(*per.to_pydict().values()))
                        return [got.get(i, 0) for i in range(n_bids)]
                    return n
                except CommitConflict:
                    head = log.version()
                    if self._interleaved_commits_safe(
                        mode, base_version, head, dir_meta
                    ):
                        # delta still valid: slide the base forward and
                        # re-commit.  An INCREMENT is version-independent
                        # so the retry is a pure filesystem op; a FOLD
                        # snapshot is stale against the interleaved
                        # commits, so fall through to the recompute.
                        if not fold_now:
                            base_version = head
                            new_version = head + 1
                            time.sleep(random.uniform(0.0, 0.05))  # desync
                            continue
                    break  # logical conflict (or stale fold): recompute
            # loser with a LOGICAL conflict — or fast budget exhausted
            # (extreme contention): clean the invisible output and
            # recompute from fresh state; the outer loop's backoff is
            # the final fairness lever before giving up for real
            shutil.rmtree(
                os.path.join(log.log_dir, stats_dir), ignore_errors=True
            )
            shutil.rmtree(
                os.path.join(self.data_path(mode), batch_dir),
                ignore_errors=True,
            )
            _conflict_backoff(_attempt)
            continue
        raise RuntimeError(
            f"ingest lost {self.MAX_COMMIT_RETRIES} commit races on {mode}"
        )

    # -- physical mutation: MERGE / DELETE (file-pruned rewrite) ---------
    def _dirs_overlapping_keys(
        self, mode: str, df: DataFrame, state: dict
    ) -> list[str]:
        """Live dirs whose recorded (ticker, ts) rectangles can contain
        any of ``df``'s keys — the merge-probe twin of ingest's
        optimistic bounds check (r8).  A key present in a dir lies
        inside that dir's rectangle AND inside ``df``'s, so dirs with a
        provably-disjoint rectangle cannot hold a matching key and are
        skipped BEFORE the tagged probe read.  Falls back to every dir
        when bounds are unavailable (missing columns, NULL keys, empty
        frame)."""
        dirs = state["dirs"]
        tsc = S.TS_COL[mode]
        if not dirs or "ticker" not in df.columns or tsc not in df.columns:
            return dirs
        b = df.agg(
            F.count(F.lit(1)),
            F.count("ticker"), F.count(tsc),
            F.min("ticker"), F.max("ticker"),
            F.min(tsc), F.max(tsc),
        ).collect()[0]
        if not b[0] or b[1] != b[0] or b[2] != b[0]:
            return dirs  # empty or NULL keys: cannot bound
        bt = [_j(b[3]), _j(b[4])]
        bts = [_j(b[5]), _j(b[6])]
        meta = state["meta"]

        def may_touch(m: dict | None) -> bool:
            if not m:
                return True
            return not (
                self._bounds_disjoint(m.get("ticker"), bt)
                or self._bounds_disjoint(m.get(tsc), bts)
            )

        return [d for d in dirs if may_touch(meta.get(d))]

    def _read_dirs_tagged(self, mode: str, dirs: list[str]) -> DataFrame | None:
        """Snapshot union with a ``__dir`` provenance column — the probe
        frame file pruning works on (which batch dirs does the mutation
        actually touch)."""
        if not dirs:
            return None
        frames = []
        for d in dirs:
            p = os.path.join(self.data_path(mode), d)
            frames.append(
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", p)
                .parquet(p)
                .withColumn("__dir", F.lit(d))
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def _dir_meta(self, df: DataFrame, mode: str) -> dict:
        """Per-dir data-skipping bounds: [min, max] of ticker and the
        mode's time column — the commit-level twin of parquet footer
        stats.  One bounded scalar aggregate — compaction's fallback
        when an old dir has no recorded bounds (written batch dirs take
        theirs from ``_meta_of``); values are JSON-coerced (dates → ISO
        strings, which compare in the same order)."""
        cols = ["ticker", S.TS_COL[mode]]
        cols = [c for c in cols if c in df.columns]
        if not cols:
            return {}
        aggs = []
        for c in cols:
            aggs += [F.min(c), F.max(c)]
        aggs.append(F.count(F.lit(1)))
        row = df.agg(*aggs).collect()[0]
        meta = {
            c: [_j(row[2 * i]), _j(row[2 * i + 1])] for i, c in enumerate(cols)
        }
        meta["n"] = row[2 * len(cols)]
        return meta

    def _write_batch_dir(
        self, delta: Delta, mode: str, meta_out: dict | None = None
    ) -> str:
        """Write ``delta`` as a fresh batch dir (invisible until the
        manifest commit) and record its data-skipping bounds in
        ``meta_out`` — from the grouped-stats table, so a micro delta
        costs no job for them."""
        batch_dir = f"batch-{uuid.uuid4().hex[:12]}"
        delta.write(os.path.join(self.data_path(mode), batch_dir), mode)
        if meta_out is not None:
            tsc = S.TS_COL[mode]
            meta_out[batch_dir] = _meta_of(delta.stat_rows(["ticker"], tsc), tsc)
        return batch_dir

    def _write_cdc(self, log: ManifestLog, version: int, cdc: DataFrame) -> str:
        rel = f"cdc-{version:08d}-{uuid.uuid4().hex[:8]}"
        # micro change sets: one driver-side file (no sort — CDC rows
        # carry no ordering contract), invisible until the commit
        _probe(cdc).write(os.path.join(log.log_dir, rel))
        return rel

    def _check_observers(self, action: str, on_observers: str) -> None:
        # Incremental MVs fold APPEND deltas; a physical update/delete
        # silently invalidates them.  Fail loudly unless the caller
        # acknowledges (then rebuild the views from the new snapshot).
        if self.observers and on_observers != "ignore":
            raise ValueError(
                f"{action} with registered observers would leave "
                "incremental views stale; pass on_observers='ignore' and "
                "rebuild them from the post-mutation snapshot — or drop "
                "the observer wiring and maintain the view with "
                "MatView.sync (CDC cursor folds updates/deletes exactly)"
            )

    def merge(
        self, source: DataFrame, mode: str, on_observers: str = "error"
    ) -> dict:
        """Delta-style MERGE: matched index keys get their payload
        REPLACED in place (version preserved — a correction, not a new
        logical version); unmatched source rows are inserted as version 1.

        File pruning is the scale story: a key-semi-join probe finds the
        batch dirs that actually contain matched keys and ONLY those are
        rewritten — an upsert touching 0.1% of keys rewrites ~0.1% of a
        compacted store, not the table (plus one new insert dir).  The
        rewrite and the commit are atomic via the same put-if-absent
        publish as ingest; a CDC file (update_preimage/update_postimage/
        insert rows) is written under the log and referenced by the
        commit so ``read_changes`` never has to diff snapshots.

        Pure updates cannot move table/interval stats (index keys —
        ticker and the timestamp — are immutable under MERGE; only
        payload columns change), so the stats pointer is carried over
        and only re-merged when the merge inserts rows.

        Source contract: key columns typed per ``schemas.SCHEMAS[mode]``,
        key-unique (raises otherwise), payload = every non-key column;
        NULL payload in the source overwrites (replace semantics).
        Reference parity: the reference's SQLite writer updates rows via
        INSERT OR REPLACE under its journal (sql_db.py); this is the
        multi-file equivalent with the rewrite pruned to touched files.
        """
        self._check_observers("merge", on_observers)
        keys = S.INDEX_COLS[mode]
        log = self.log(mode)
        src, _n_src, stbl = materialize_micro(source)
        if stbl is not None:
            # driver-side key-uniqueness check over the collected rows —
            # same NULL handling as groupBy (NULL keys form groups)
            per_key = stbl.group_by(keys).aggregate([([], "count_all")])
            dup = pc.max(per_key["count_all"]).as_py() > 1
        else:
            dup = src.groupBy(*keys).count().where(F.col("count") > 1).limit(1)
            dup = dup.count() > 0
        if dup:
            raise ValueError("merge source must be unique on index keys")
        src_payload = [c for c in src.columns if c not in keys]
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            # commit-level probe pruning (r8): only dirs whose recorded
            # key rectangles can intersect the source's participate in
            # BOTH the touched-dir discovery and the insert anti-join —
            # a key in a pruned dir would have to lie in two provably
            # disjoint rectangles.  An upsert against a time-ordered
            # store probes O(touched) dirs, not the store.
            probe_dirs = self._dirs_overlapping_keys(mode, src, state)
            tagged = self._read_dirs_tagged(mode, probe_dirs)
            src_keys = src.select(*keys).distinct()
            adds: list[str] = []
            removes: list[str] = []
            meta_map: dict[str, dict] = {}
            cdc_frames: list[DataFrame] = []
            n_upd = 0
            if tagged is not None:
                touched = sorted(
                    r[0]
                    for r in tagged.join(src_keys, on=keys, how="left_semi")
                    .select("__dir")
                    .distinct()
                    .collect()
                )
            else:
                touched = []
            if touched:
                tdf = self._read_dirs(mode, touched)
                pre = tdf.join(src_keys, on=keys, how="left_semi")
                keep = tdf.join(src_keys, on=keys, how="left_anti")
                s2 = src.select(
                    *keys,
                    *[F.col(c).alias(f"__src_{c}") for c in src_payload],
                )
                repl = [
                    F.col(f"__src_{c}").alias(c) if c in src_payload else F.col(c)
                    for c in tdf.columns
                ]
                new_cols = [
                    F.col(f"__src_{c}").alias(c)
                    for c in src_payload
                    if c not in tdf.columns
                ]
                post = tdf.join(s2, on=keys, how="inner").select(*repl, *new_cols)
                post, n_upd, _ptbl = materialize_micro(post)
                rewrite = keep.unionByName(post, allowMissingColumns=True)
                adds.append(
                    self._write_batch_dir(
                        _probe(rewrite), mode, meta_out=meta_map
                    )
                )
                removes = list(touched)
                cdc_frames.append(
                    pre.withColumn("_change_type", F.lit("update_preimage"))
                )
                cdc_frames.append(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                )
            if tagged is not None:
                ins_src = src.join(
                    tagged.select(*keys), on=keys, how="left_anti"
                )
            else:
                ins_src = src
            inserts = compute_versioned_delta(ins_src, None, mode, self.tz)
            ins = materialize_micro(inserts)
            inserts, n_ins = ins.df, ins.n
            # pure update: carry the stats snapshot AND the outstanding
            # increment chain forward verbatim (index keys can't move);
            # with inserts, materialize a fresh cumulative snapshot
            # (the _read_stats fold already includes the chain)
            stats_ptr, stats_incs = self._stats_state(mode)
            stats_dir = None
            new_version = state["version"] + 1
            if n_ins:
                stats_incs = []
                adds.append(
                    self._write_batch_dir(ins, mode, meta_out=meta_map)
                )
                cdc_frames.append(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )
                stats_ptr = {}
                stats_dir = f"stats-{new_version:08d}-{uuid.uuid4().hex[:8]}"
                for which, by_interval in (("table", False), ("interval", True)):
                    if by_interval and mode == "streaming":
                        continue
                    skeys = ["ticker", "interval"] if by_interval else ["ticker"]
                    prior = self._read_stats(mode, which)
                    merged = merge_stats(
                        prior, batch_stats(inserts, mode, by_interval), skeys
                    )
                    rel = os.path.join(stats_dir, which)
                    merged.coalesce(1).write.parquet(
                        os.path.join(log.log_dir, rel)
                    )
                    stats_ptr[which] = rel
            if not adds:
                return {"updated": 0, "inserted": 0, "rewritten_dirs": 0,
                        "version": state["version"]}
            cdc = cdc_frames[0]
            for f in cdc_frames[1:]:
                cdc = cdc.unionByName(f, allowMissingColumns=True)
            cdc_rel = self._write_cdc(log, new_version, cdc)
            try:
                log.try_commit(
                    new_version,
                    {
                        "adds": adds,
                        "removes": removes,
                        "stats": stats_ptr,
                        "stats_incs": stats_incs,
                        "meta": meta_map,
                        "op": "merge",
                        "cdc": cdc_rel,
                        "ts": time.time(),
                    },
                )
                return {
                    "updated": n_upd,
                    "inserted": n_ins,
                    "rewritten_dirs": len(removes),
                    "version": new_version,
                }
            except CommitConflict:
                for d in adds:
                    shutil.rmtree(
                        os.path.join(self.data_path(mode), d),
                        ignore_errors=True,
                    )
                for d in (cdc_rel, stats_dir):
                    if d:
                        shutil.rmtree(
                            os.path.join(log.log_dir, d), ignore_errors=True
                        )
                _conflict_backoff(_attempt)
                continue
        raise RuntimeError(
            f"merge lost {self.MAX_COMMIT_RETRIES} commit races on {mode}"
        )

    def delete_where(
        self,
        mode: str,
        predicate: "Column | str",
        on_observers: str = "error",
    ) -> dict:
        """Delta-style DELETE: physically remove rows matching
        ``predicate``, rewriting ONLY the batch dirs that contain a
        matching row (file-pruned like ``merge``).  NULL predicate rows
        are KEPT (SQL DELETE semantics: only TRUE deletes).

        Stats cannot be decremented from the O(1) merge form (count/
        min/max are not subtractable), so the affected (ticker[,
        interval]) stats rows are recomputed exactly from the
        post-delete snapshot — bounded by the tickers the delete
        touched, never a full rescan of untouched tickers.  The commit
        carries a CDC file of the deleted rows (_change_type='delete').
        """
        self._check_observers("delete_where", on_observers)
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond_true = F.coalesce(cond, F.lit(False))
        log = self.log(mode)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            tagged = self._read_dirs_tagged(mode, state["dirs"])
            if tagged is None:
                return {"deleted": 0, "rewritten_dirs": 0,
                        "version": state["version"]}
            touched = sorted(
                r[0]
                for r in tagged.where(cond_true)
                .select("__dir")
                .distinct()
                .collect()
            )
            if not touched:
                return {"deleted": 0, "rewritten_dirs": 0,
                        "version": state["version"]}
            tdf = self._read_dirs(mode, touched)
            doomed, n_del, _dtbl = materialize_micro(tdf.where(cond_true))
            keep = materialize_micro(tdf.where(~cond_true))
            adds = []
            meta_map: dict[str, dict] = {}
            if keep.n:
                adds.append(
                    self._write_batch_dir(keep, mode, meta_out=meta_map)
                )
            new_version = state["version"] + 1
            untouched = [d for d in state["dirs"] if d not in touched]
            post_dirs = untouched + adds
            post = self._read_dirs(mode, post_dirs)
            stats_ptr = {}
            stats_dir = f"stats-{new_version:08d}-{uuid.uuid4().hex[:8]}"
            for which, by_interval in (("table", False), ("interval", True)):
                if by_interval and mode == "streaming":
                    continue
                skeys = ["ticker", "interval"] if by_interval else ["ticker"]
                prior = self._read_stats(mode, which)
                affected = doomed.select(*skeys).distinct()
                if post is not None:
                    recomputed = batch_stats(
                        post.join(affected, on=skeys, how="left_semi"),
                        mode,
                        by_interval,
                    )
                else:
                    recomputed = None
                if prior is not None:
                    kept_stats = prior.join(
                        affected, on=skeys, how="left_anti"
                    )
                    merged = (
                        kept_stats.unionByName(recomputed)
                        if recomputed is not None
                        else kept_stats
                    )
                else:
                    merged = recomputed
                if merged is None:
                    continue
                rel = os.path.join(stats_dir, which)
                merged.coalesce(1).write.parquet(
                    os.path.join(log.log_dir, rel)
                )
                stats_ptr[which] = rel
            cdc_rel = self._write_cdc(
                log,
                new_version,
                doomed.withColumn("_change_type", F.lit("delete")),
            )
            try:
                log.try_commit(
                    new_version,
                    {
                        "adds": adds,
                        "removes": list(touched),
                        "stats": stats_ptr,
                        "meta": meta_map,
                        "op": "delete",
                        "cdc": cdc_rel,
                        "ts": time.time(),
                    },
                )
                return {
                    "deleted": n_del,
                    "rewritten_dirs": len(touched),
                    "version": new_version,
                }
            except CommitConflict:
                for d in adds:
                    shutil.rmtree(
                        os.path.join(self.data_path(mode), d),
                        ignore_errors=True,
                    )
                for d in (cdc_rel, stats_dir):
                    shutil.rmtree(
                        os.path.join(log.log_dir, d), ignore_errors=True
                    )
                _conflict_backoff(_attempt)
                continue
        raise RuntimeError(
            f"delete lost {self.MAX_COMMIT_RETRIES} commit races on {mode}"
        )

    def retain_before(
        self, mode: str, cutoff, cdc: bool = False,
        on_observers: str = "error",
    ) -> dict:
        """Retention as a manifest commit — the commit-log twin of
        ``maintenance.retain``'s directory-delete (reference parity: the
        Redis ``XTRIM`` analog, writer.py:293-297), driven by the
        commit-level data-skipping bounds instead of Hive directory
        names:

        - dirs whose recorded ts upper bound < ``cutoff`` are removed
          METADATA-ONLY — zero data bytes read (their one-column ticker
          scan funds the stats recompute, nothing else);
        - dirs straddling the cutoff get a keep-part rewrite (bounded by
          the straddlers, never the store);
        - dirs with no recorded bounds are conservatively treated as
          straddlers.

        ``cdc=False`` (default — the 100 TB posture) records op='retain'
        with NO row-level change file: expiring a year of history must
        not re-read it just to log it.  The trade is explicit:
        ``read_changes`` / the ``stockops_cdc`` stream RAISE
        ``ChangeFeedGap`` for any cursor below such a commit, so a
        downstream view re-bootstraps from a snapshot instead of
        silently keeping expired rows.  ``cdc=True`` reads the doomed
        rows once and keeps the feed exact (delete changes).
        """
        self._check_observers("retain_before", on_observers)
        tsc = S.TS_COL[mode]
        cut = _j(cutoff)
        log = self.log(mode)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            doomed_dirs: list[str] = []
            straddle: list[str] = []
            for d in state["dirs"]:
                tb = (state["meta"].get(d) or {}).get(tsc)
                if tb and tb[1] is not None and _j(tb[1]) < cut:
                    doomed_dirs.append(d)
                elif tb and tb[0] is not None and _j(tb[0]) >= cut:
                    continue  # provably all-retained: untouched
                else:
                    straddle.append(d)
            adds: list[str] = []
            removes: list[str] = []
            meta_map: dict[str, dict] = {}
            cdc_frames = []
            n_dropped_dirs = len(doomed_dirs)
            affected = None  # tickers whose stats must be recomputed
            if straddle:
                sdf = self._read_dirs(mode, straddle)
                expired, n_exp, _etbl = materialize_micro(
                    sdf.where(F.col(tsc) < F.lit(cutoff))
                )
                if n_exp:
                    keep = materialize_micro(
                        sdf.where(~(F.col(tsc) < F.lit(cutoff)))
                    )
                    if keep.n:
                        adds.append(
                            self._write_batch_dir(
                                keep, mode, meta_out=meta_map
                            )
                        )
                    removes += straddle
                    affected = expired.select("ticker").distinct()
                    if cdc:
                        cdc_frames.append(
                            expired.withColumn("_change_type", F.lit("delete"))
                        )
            if doomed_dirs:
                removes += doomed_dirs
                ddf = self._read_dirs(mode, doomed_dirs)
                # one-column scan: just the tickers (stats recompute set);
                # with cdc=True the full rows are read once for the feed
                aff2 = ddf.select("ticker").distinct()
                affected = (
                    aff2 if affected is None
                    else affected.unionByName(aff2).distinct()
                )
                if cdc:
                    cdc_frames.append(
                        ddf.withColumn("_change_type", F.lit("delete"))
                    )
            if not removes:
                return {"deleted_dirs": 0, "rewritten_dirs": 0,
                        "version": state["version"]}
            affected = affected.localCheckpoint(eager=True)
            new_version = state["version"] + 1
            untouched = [d for d in state["dirs"] if d not in set(removes)]
            post = self._read_dirs(mode, untouched + adds)
            stats_ptr = {}
            stats_dir = f"stats-{new_version:08d}-{uuid.uuid4().hex[:8]}"
            for which, by_interval in (("table", False), ("interval", True)):
                if by_interval and mode == "streaming":
                    continue
                skeys = ["ticker", "interval"] if by_interval else ["ticker"]
                prior = self._read_stats(mode, which)
                if post is not None:
                    recomputed = batch_stats(
                        post.join(affected, on="ticker", how="left_semi"),
                        mode,
                        by_interval,
                    )
                else:
                    recomputed = None
                if prior is not None:
                    kept_stats = prior.join(
                        affected, on="ticker", how="left_anti"
                    )
                    merged = (
                        kept_stats.unionByName(recomputed)
                        if recomputed is not None
                        else kept_stats
                    )
                else:
                    merged = recomputed
                if merged is None:
                    continue
                rel = os.path.join(stats_dir, which)
                merged.coalesce(1).write.parquet(
                    os.path.join(log.log_dir, rel)
                )
                stats_ptr[which] = rel
            cdc_rel = None
            if cdc and cdc_frames:
                cdcdf = cdc_frames[0]
                for f in cdc_frames[1:]:
                    cdcdf = cdcdf.unionByName(f, allowMissingColumns=True)
                cdc_rel = self._write_cdc(log, new_version, cdcdf)
            payload = {
                "adds": adds,
                "removes": removes,
                "stats": stats_ptr,
                "meta": meta_map,
                "op": "retain",
                "ts": time.time(),
            }
            if cdc_rel:
                payload["cdc"] = cdc_rel
            try:
                log.try_commit(new_version, payload)
                return {
                    "deleted_dirs": n_dropped_dirs,
                    "rewritten_dirs": len(straddle),
                    "version": new_version,
                }
            except CommitConflict:
                for d in adds:
                    shutil.rmtree(
                        os.path.join(self.data_path(mode), d),
                        ignore_errors=True,
                    )
                for d in (cdc_rel, stats_dir):
                    if d:
                        shutil.rmtree(
                            os.path.join(log.log_dir, d), ignore_errors=True
                        )
                _conflict_backoff(_attempt)
                continue
        raise RuntimeError(
            f"retain_before lost {self.MAX_COMMIT_RETRIES} races on {mode}"
        )

    def widen_types(self, mode: str) -> dict:
        """Cast-rewrite files whose physical column types conflict (the
        NONE→REAL affinity migration, reference sql_db.py:69-173) — the
        same footer-driven per-file rewrite as ``maintenance.widen_types``
        (file names unchanged, so every commit's dir references stay
        valid; a kill mid-sweep leaves a subset widened, and re-running
        heals — same contract as the plain store)."""
        from stock_ops_spark.sources import maintenance as M

        return M.widen_types(self, mode)

    # -- CDC change feed -------------------------------------------------
    def read_changes(
        self,
        mode: str,
        from_version: int = 0,
        to_version: int | None = None,
    ) -> DataFrame | None:
        """Row-level change feed for commits (from_version, to_version]
        — the Delta CDF twin that makes every downstream consumer
        incremental (MV rebuilds, index refresh, replication) without
        snapshot diffing.

        Per commit kind: ingest adds are DERIVED as changes with no
        extra storage (``_change_type`` = 'insert' for version-1 rows,
        'update_postimage' for a conflict-versioned re-send — the
        logical update in this store's versioned model); merge/delete
        commits read the explicit CDC file their commit published;
        compaction is invisible (no logical change).  Every row carries
        ``_commit_version`` so a consumer can checkpoint its own cursor.

        Requires the referenced batch dirs to still exist — run
        ``gc_orphans`` with a grace no shorter than the slowest
        consumer's lag.
        """
        log = self.log(mode)
        upto = log.version() if to_version is None else to_version
        lo = log.min_version()
        if lo > 1 and from_version < lo:
            # Commits < lo are gone AND lo itself was rewritten as a
            # checkpoint (its original row changes are no longer
            # derivable), so any cursor below lo would silently miss
            # changes — fail loudly instead (the consumer re-bootstraps
            # from a snapshot at lo, then resumes the feed from there).
            raise VacuumedVersion(
                f"change feed from {from_version} is incomplete: history "
                f"up to version {lo} was vacuumed/checkpointed"
            )
        frames = []
        for c in log.commits(upto=upto):
            v = c["version"]
            if v <= from_version:
                continue
            op = c.get("op") or ("compact" if c.get("removes") else "ingest")
            if op == "compact":
                continue
            if op == "retain" and not c.get("cdc"):
                # metadata-only retention recorded no row changes; a
                # cursor below it cannot fold deletions it never sees —
                # fail loudly (consumer re-bootstraps from a snapshot
                # at >= this commit), never silently skip
                raise ChangeFeedGap(
                    f"change feed from {from_version} crosses retention "
                    f"commit {v} recorded without row-level CDC "
                    f"(retain_before(cdc=False)); re-bootstrap from a "
                    f"snapshot at version >= {v}"
                )
            if c.get("cdc"):
                df = self.spark.read.parquet(
                    os.path.join(log.log_dir, c["cdc"])
                )
            elif op in ("ingest", "convert"):
                # convert_from adopts a ParquetStore snapshot as version
                # 1 — its rows ARE the feed's opening changes (a fresh
                # MatView that "just syncs" from cursor 0 must see them;
                # skipping convert here silently produced a view missing
                # every adopted row).  Derivation is identical to ingest:
                # the adopted rows carry their version column.
                df = self._read_dirs(mode, c["adds"])
                if df is None:
                    continue
                df = df.withColumn(
                    "_change_type",
                    F.when(F.col("version") > 1, F.lit("update_postimage"))
                    .otherwise(F.lit("insert")),
                )
            else:
                continue
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    # -- maintenance -----------------------------------------------------
    def compact(self, mode: str) -> dict:
        """Rewrite all live batch dirs into one and swap atomically.
        Readers of the old snapshot keep working (old dirs survive
        until gc_orphans); new readers see one dir."""
        parts = PARTITION_COLS[mode]
        log = self.log(mode)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            if len(state["dirs"]) <= 1:
                return {"rewritten": 0, "dirs_before": len(state["dirs"])}
            df = self._read_dirs(mode, state["dirs"])
            new_dir = f"batch-{uuid.uuid4().hex[:12]}"
            # live row count folds driver-side from the per-dir "n" meta
            # (exactly what the auto-compact cadence reads) — lets the
            # rewrite use the one-file-per-partition layout when small
            metas = [state["meta"].get(d) for d in state["dirs"]]
            live_rows = (
                sum(m["n"] for m in metas)
                if all(m and m.get("n") is not None for m in metas)
                else None
            )
            writer = cluster_for_write(df, mode, n_rows=live_rows).write.option(
                "compression", "zstd"
            )
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(os.path.join(self.data_path(mode), new_dir))
            # data-skipping bounds for the compacted dir: fold the old
            # dirs' recorded bounds when every one has them (no extra
            # scan); otherwise one scalar aggregate over the rewrite
            if all(metas):
                new_meta = {
                    c: _span(
                        pa.array([m[c][0] for m in metas if c in m]),
                        pa.array([m[c][1] for m in metas if c in m]),
                    )
                    for c in dict.fromkeys(c for m in metas for c in m)
                    if c != "n"
                }
                # a pre-r8 dir without "n" leaves the fold without one
                # (unknown beats wrong; the cadence treats missing as 0)
                if live_rows is not None:
                    new_meta["n"] = live_rows
            else:
                new_meta = self._dir_meta(df, mode)
            try:
                log.try_commit(
                    state["version"] + 1,
                    {
                        "adds": [new_dir],
                        "removes": list(state["dirs"]),
                        # physical rewrite: stats are untouched — carry
                        # the snapshot AND the outstanding increment
                        # chain forward verbatim
                        "stats": state["stats"],
                        "stats_incs": state["stats_incs"],
                        "meta": {new_dir: new_meta},
                        "op": "compact",
                        "ts": time.time(),
                    },
                )
                return {
                    "rewritten": len(state["dirs"]),
                    "dirs_before": len(state["dirs"]),
                }
            except CommitConflict:
                shutil.rmtree(
                    os.path.join(self.data_path(mode), new_dir),
                    ignore_errors=True,
                )
                _conflict_backoff(_attempt)
                continue
        raise RuntimeError(f"compact lost {self.MAX_COMMIT_RETRIES} races")

    def restore(
        self, mode: str, to_version: int, on_observers: str = "raise"
    ) -> dict:
        """Make an earlier snapshot current again (Delta RESTORE): a new
        commit whose adds/removes swap the live dir set back to
        ``to_version``'s — metadata-only for the data (the old batch
        dirs are still on disk until ``gc_orphans``; restoring after GC
        raises with the missing dirs named), plus one honest CDC file:
        rows leaving the snapshot are 'delete' changes and rows
        returning are 'insert', so MatView.sync and the stockops_cdc
        stream keep folding exactly instead of silently diverging.
        History is preserved — RESTORE is a new version, and time travel
        into the undone span still works."""
        self._check_observers("restore", on_observers)
        log = self.log(mode)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            if to_version == state["version"]:
                return {"restored_to": to_version, "version": state["version"],
                        "n_deleted": 0, "n_reinserted": 0}
            target = log.state(at_version=to_version)  # VacuumedVersion if gone
            missing = [
                d
                for d in target["dirs"]
                if not os.path.isdir(os.path.join(self.data_path(mode), d))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore {mode} to version {to_version}: batch "
                    f"dirs already garbage-collected: {missing}"
                )
            cur = self._read_dirs(mode, state["dirs"])
            tgt = self._read_dirs(mode, target["dirs"])
            cols = tgt.columns
            deleted = cur.select(*cols).exceptAll(tgt.select(*cols))
            reinserted = tgt.select(*cols).exceptAll(cur.select(*cols))
            cdc = deleted.withColumn(
                "_change_type", F.lit("delete")
            ).unionByName(
                reinserted.withColumn("_change_type", F.lit("insert"))
            )
            cdc = cdc.localCheckpoint(eager=True)
            n_del = cdc.where(F.col("_change_type") == "delete").count()
            n_ins = cdc.where(F.col("_change_type") == "insert").count()
            new_version = state["version"] + 1
            cdc_rel = self._write_cdc(log, new_version, cdc)
            try:
                log.try_commit(
                    new_version,
                    {
                        "adds": [
                            d for d in target["dirs"]
                            if d not in set(state["dirs"])
                        ],
                        "removes": [
                            d for d in state["dirs"]
                            if d not in set(target["dirs"])
                        ],
                        "stats": target["stats"],
                        "stats_incs": target["stats_incs"],
                        "meta": {
                            d: target["meta"][d]
                            for d in target["dirs"]
                            if d in target["meta"]
                        },
                        "op": "restore",
                        "cdc": cdc_rel,
                        "ts": time.time(),
                    },
                )
                return {
                    "restored_to": to_version,
                    "version": new_version,
                    "n_deleted": n_del,
                    "n_reinserted": n_ins,
                }
            except CommitConflict:
                shutil.rmtree(
                    os.path.join(log.log_dir, cdc_rel), ignore_errors=True
                )
                _conflict_backoff(_attempt)
                continue
        raise RuntimeError(f"restore lost {self.MAX_COMMIT_RETRIES} races")

    def convert_from(self, pstore, mode: str) -> dict:
        """Adopt an existing ``ParquetStore`` dataset as this manifest
        store's version 1 — the migration path a team with months of
        plain-parquet history needs to move onto the commit log without
        re-ingesting (Delta's CONVERT TO DELTA).  One bandwidth-bound
        rewrite of the current snapshot into a fresh batch dir, the
        running stats recomputed from the adopted rows (the ParquetStore
        may be carrying a healed/rebuilt StatsTable; recomputation makes
        the commit self-consistent by construction), both published in
        one atomic commit with data-skipping bounds.  The source store
        is untouched; subsequent ``ingest_batch`` calls dedup/version
        against the adopted history exactly as if it had been ingested
        here.  Refuses a non-empty target (the adopted snapshot must BE
        version 1, or time travel would lie)."""
        log = self.log(mode)
        if log.version() != 0:
            raise ValueError(
                f"convert_from requires an empty target log; {mode} is at "
                f"version {log.version()}"
            )
        df = pstore.read_all(mode)
        if df is None:
            return {"adopted_rows": 0, "version": 0}
        delta = materialize_micro(df)
        df, n = delta.df, delta.n
        meta_map: dict[str, dict] = {}
        batch_dir = self._write_batch_dir(delta, mode, meta_out=meta_map)
        stats_ptr = {}
        stats_dir = f"stats-{1:08d}-{uuid.uuid4().hex[:8]}"
        for which, by_interval in (("table", False), ("interval", True)):
            if by_interval and mode == "streaming":
                continue
            merged = batch_stats(df, mode, by_interval)
            rel = os.path.join(stats_dir, which)
            merged.coalesce(1).write.parquet(os.path.join(log.log_dir, rel))
            stats_ptr[which] = rel
        log.try_commit(
            1,
            {
                "adds": [batch_dir],
                "removes": [],
                "stats": stats_ptr,
                "meta": meta_map,
                "op": "convert",
                "ts": time.time(),
            },
        )
        for obs in self.observers:
            obs(df, mode)
        return {"adopted_rows": n, "version": 1}

    def vacuum(self, mode: str, retain_last: int = 8) -> dict:
        """Truncate commit history to the last ``retain_last`` versions —
        the Delta checkpoint + VACUUM analogue that stops the log (and
        everything ``gc_orphans`` must retain because a commit still
        references it) from growing without bound.  At one commit per
        micro-batch a year of streaming is ~10^5–10^6 JSON files all
        re-read by EVERY ``state()`` fold; at 100 TB the metadata pass
        would dominate small reads long before the data does.

        Mechanics (each step crash-safe on its own):

        1. pick the horizon H = current - retain_last + 1;
        2. rewrite commit H in place (tmp + atomic rename) as a
           self-contained CHECKPOINT: adds = full live dir list at H,
           removes = [], stats = stats pointer at H — state(H..) folds
           identically whether or not older commits still exist, so a
           crash between steps leaves a correct log;
        3. delete commit files < H.  Stats/CDC dirs they referenced
           become unreferenced and age out via ``gc_orphans`` (which
           also gives in-flight readers its grace window).

        Time travel below H and change-feed cursors below H raise
        ``VacuumedVersion`` afterwards — truncation is the documented
        trade, never a silent wrong answer."""
        log = self.log(mode)
        cur = log.version()
        lo = log.min_version()
        horizon = cur - retain_last + 1
        if cur == 0 or horizon <= lo:
            return {"checkpointed": 0, "commits_dropped": 0}
        st = log.state(at_version=horizon)
        doc = {
            "version": horizon,
            "adds": list(st["dirs"]),
            "removes": [],
            "stats": st["stats"],
            "stats_incs": st["stats_incs"],
            "meta": {d: st["meta"][d] for d in st["dirs"] if d in st["meta"]},
            "op": "checkpoint",
            "ts": time.time(),
        }
        final = log._path(horizon)
        tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)  # atomic: readers see old or new, never torn
        dropped = 0
        for v in range(lo, horizon):
            try:
                os.remove(log._path(v))
                dropped += 1
            except FileNotFoundError:
                dropped += 1  # a concurrent/prior vacuum already got it
            except OSError:
                # STOP on the first failed remove: deleting v+1 while v
                # survives would leave a GAP — commits() folds a
                # contiguous [min_version, version] range, and the
                # ascending deletion order is what guarantees the
                # retained set is always a contiguous suffix.  The next
                # vacuum retries from the same horizon.
                break
        return {"checkpointed": horizon, "commits_dropped": dropped}

    def gc_orphans(self, mode: str, grace_s: float = 3600.0) -> list[str]:
        """Remove batch/stats/cdc dirs referenced by NO retained commit
        (crash debris, commit-race losers), once older than ``grace_s``
        (in-flight writers get that long to finish — at 100 TB set it
        above the longest expected job).

        A batch dir referenced by ANY retained commit is kept even when
        it is no longer live (compaction/merge-removed): time travel
        (``read_all(at_version=...)``) and ``restore`` are advertised
        for the whole retained window, so their inputs must survive it.
        ``vacuum`` is what makes history collectable — truncating
        commits below the horizon un-references their dirs, and the next
        GC sweeps them.  (The earlier behavior — collecting
        compaction-removed dirs after bare ``grace_s`` — silently broke
        time travel inside the retention window; the retain knob and the
        GC knob are now coupled through the commit references.)"""
        log = self.log(mode)
        commits = log.commits()
        live = set(log.state()["dirs"])
        ever_adds = set(live)
        ever_stats = set()
        ever_cdc = set()
        for c in commits:
            ever_adds.update(c.get("adds", []))
            for ptr in (
                [c.get("stats"), c.get("stats_inc")]
                + list(c.get("stats_incs") or [])
            ):
                for rel in (ptr or {}).values():
                    ever_stats.add(rel.split(os.sep)[0])
            if c.get("cdc"):
                ever_cdc.add(c["cdc"].split(os.sep)[0])
        # current stats (snapshot + outstanding increment chain) must
        # survive even past grace
        cur, cur_incs = self._stats_state(mode)
        cur_stats = {
            rel.split(os.sep)[0]
            for ptr in [cur or {}] + list(cur_incs)
            for rel in ptr.values()
        }
        removed = []
        now = time.time()
        data_root = self.data_path(mode)
        try:
            names = os.listdir(data_root)
        except OSError:
            names = []
        for n in names:
            p = os.path.join(data_root, n)
            if not n.startswith("batch-") or not os.path.isdir(p):
                continue
            if n in ever_adds:
                continue  # referenced by a retained commit: time-travel input
            if now - os.path.getmtime(p) < grace_s:
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
        try:
            lnames = os.listdir(log.log_dir)
        except OSError:
            lnames = []
        for n in lnames:
            p = os.path.join(log.log_dir, n)
            if not os.path.isdir(p):
                continue
            if n.startswith("stats-"):
                if n in cur_stats or n in ever_stats:
                    continue  # current or referenced history: keep
            elif n.startswith("cdc-"):
                # CDC files referenced by a commit ARE the change feed's
                # history — keep them; only commit-race / crash debris
                # (written but never referenced) is collectable.
                if n in ever_cdc:
                    continue
            else:
                continue
            if now - os.path.getmtime(p) < grace_s:
                continue  # maybe an in-flight writer's pre-commit output
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
        return removed
