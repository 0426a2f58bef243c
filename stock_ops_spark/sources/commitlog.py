"""The store: partitioned parquet under a manifest commit log.

``ManifestStore`` is the engine's one store.  Every write — ingest,
merge, delete, retain, compaction — touches two things, the data files
and the stats catalog, and a plain append of each would leave a window
where a kill lands between them.  The reference closes that window with
SQLite's journal; this module closes it the way Delta Lake / Iceberg
do, reduced to what plain files can guarantee:

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
and no stats lag, so there is no stats-rebuild job to run.

Concurrent writers get optimistic concurrency: the commit encodes the
expected version; on collision the loser recomputes its delta against
the refreshed state (its dedup/version assignment may genuinely change)
and retries.  Readers get snapshot isolation and TIME TRAVEL for free:
``read_all(mode, at_version=k)`` folds commits 1..k.

Compaction rewrites many batch dirs into one and publishes
removes+adds in a single commit — readers switch snapshots atomically;
the old dirs stay until GC, so in-flight readers finish correctly.

Every write (ingest, merge, delete, retain, compact, restore, convert)
runs one protocol, ``ManifestStore._commit``: an ATTEMPT folds the log
once and works from that state alone (its prior stats included); it
writes its batch, stats and CDC dirs invisibly, recording each in the
state; the loop PUBLISHES the returned payload at
``state["version"] + 1``.  A LOST race either REBASES — ingest's hook
proves its written output still valid at the new head, and the same
payload publishes there — or deletes the recorded dirs, backs off and
re-runs the attempt against the fresh state.  ``ManifestLog.checkpoint``
is the one history truncation — shared with the deployment log in
``scheduling.py``.

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
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.stats import batch_stats, fold_stats, merge_stats
from stock_ops_spark.operators.versioning import latest_version_view
from stock_ops_spark.sources.microcommit import (
    Delta,
    MICRO_COMMIT_ROWS,
    as_catalog_stats,
    collect_micro,
    materialize_micro,
    plain_type,
)

# Commits reach write_micro through Delta.write; the name stays importable
# here because perfbench's traced run wraps it at this module.
from stock_ops_spark.sources.microcommit import write_micro  # noqa: F401
from stock_ops_spark.sources.ingest import (
    _MAX_PRUNE_PARTITIONS,
    compute_versioned_delta,
    versioned_delta_arrow,
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


def _disjoint(a, b) -> bool:
    """True when two [lo, hi] ranges provably do NOT intersect (a
    missing range or a None end is unbounded = may intersect)."""
    if not a or not b:
        return False
    return (a[1] is not None and b[0] is not None and a[1] < b[0]) or (
        b[1] is not None and a[0] is not None and b[1] < a[0]
    )


def _may_touch(meta: dict | None, tsc: str, tickers, ts) -> bool:
    """Can a dir with recorded bounds ``meta`` hold a row inside the
    (``tickers``, ``ts``) rectangle?  A shared key lies in both
    rectangles, so a dir disjoint on EITHER axis holds none; a dir with
    no recorded bounds must be read."""
    if not meta:
        return True
    return not (
        _disjoint(meta.get("ticker"), tickers) or _disjoint(meta.get(tsc), ts)
    )


def _union(frames: list) -> DataFrame | None:
    """Union by name with missing columns NULL-filled (the mergeSchema
    evolution contract), or None for no frames."""
    out = None
    for f in frames:
        out = f if out is None else out.unionByName(f, allowMissingColumns=True)
    return out


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

    def _versions(self) -> list[int]:
        """The commit numbers on disk ([] before the first commit)."""
        try:
            names = os.listdir(self.log_dir)
        except OSError:
            return []
        return [
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        ]

    def version(self) -> int:
        """Highest committed version (0 = empty log)."""
        return max(self._versions(), default=0)

    def min_version(self) -> int:
        """Lowest retained commit (0 = empty log).  1 until ``checkpoint``
        truncates history; afterwards the earliest retained commit is a
        self-contained checkpoint, so folding from it is complete."""
        return min(self._versions(), default=0)

    def commits(self, upto: int | None = None, since: int = 1) -> list[dict]:
        """The retained commits from ``since`` (or the earliest retained
        one, if later) to ``upto`` (default: the head), each opened once.
        A concurrent vacuum can remove a commit file between this
        fold's listing and its open; the horizon only ever ADVANCES,
        so re-reading min_version and retrying converges (bounded)."""
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
                for i in range(max(lo, since), v + 1):
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

    def _put(self, version: int, doc: dict, publish) -> None:
        """Write ``doc`` as commit ``version``: durably to a tmp name
        first (fsync), then ``publish(tmp, final)`` makes it visible in
        one step, so readers never see a torn commit."""
        os.makedirs(self.log_dir, exist_ok=True)
        final = self._path(version)
        tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(dict(doc, version=version), f)
            f.flush()
            os.fsync(f.fileno())
        try:
            publish(tmp, final)
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def try_commit(self, version: int, payload: dict) -> None:
        """Put-if-absent publish of ``version``; raises CommitConflict
        if that version already exists (the POSIX compare-and-swap:
        ``os.link`` fails with EEXIST where rename would overwrite)."""
        try:
            self._put(version, payload, os.link)
        except FileExistsError:
            raise CommitConflict(f"version {version} already committed") from None

    def checkpoint(self, horizon: int, doc: dict) -> int:
        """Truncate history below ``horizon``; returns the commits dropped.

        1. replace commit ``horizon`` (atomic rename) with ``doc``, a
           SELF-CONTAINED checkpoint: the caller's fold must give the
           same state from it whether or not older commits still exist,
           so a crash between the steps leaves a correct log;
        2. delete the commits below it in ascending order, STOPPING at
           the first failed delete: deleting v+1 while v survives would
           leave a GAP in the contiguous [min_version, version] range
           ``commits()`` folds, and every later fold would raise.  The
           next checkpoint retries from the same horizon."""
        lo = self.min_version()
        self._put(horizon, doc, os.replace)
        dropped = 0
        for v in range(lo, horizon):
            try:
                os.remove(self._path(v))
            except FileNotFoundError:
                pass  # a concurrent/prior checkpoint already got it
            except OSError:
                break
            dropped += 1
        return dropped


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
    """Partitioned-parquet store for one (provider, exchange), every
    write published by a manifest commit.

    The dedup/versioning contract lives in ``sources/ingest.py``; the
    physical layout is:

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
    ):
        self.spark = spark
        self.root = root
        self.provider = provider
        self.exchange = exchange
        self.tz = tz
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
    def _read_dirs(
        self, mode: str, dirs: list[str], tag: bool = False
    ) -> DataFrame | None:
        """The union of ``dirs``, each read with its own basePath;
        ``tag`` adds a ``__dir`` provenance column — the probe frame
        file pruning works on (which batch dirs a mutation touches)."""
        frames = []
        for d in dirs:
            p = os.path.join(self.data_path(mode), d)
            df = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", p)
                .parquet(p)
            )
            frames.append(df.withColumn("__dir", F.lit(d)) if tag else df)
        return _union(frames)

    def _read_dirs_arrow(
        self, mode: str, dirs: list[str], touched: list | None = None
    ):
        """``_read_dirs`` on the driver: the union of ``dirs`` as one Arrow
        table, read through ``pyarrow.dataset`` with hive partitioning
        and the missing columns NULL-filled — or None when that cannot
        stand in for the Spark read: more than ``MICRO_COMMIT_ROWS``
        rows, a column type outside ``plain_type``, or a type conflict
        between dirs.  ``touched`` partition tuples prune fragments
        before anything is counted or read, and the count comes from the
        pruned fragments' parquet footers — so a large compacted dir
        costs only the partitions a batch touches."""
        import pyarrow.dataset as pads

        parts = PARTITION_COLS[mode]
        flt = None
        for t in (touched or []) if parts else []:
            conj = None
            for c, v in zip(parts, t):
                term = pads.field(c) == v
                conj = term if conj is None else conj & term
            flt = conj if flt is None else flt | conj
        try:
            sets, n = [], 0
            for d in dirs:
                dset = pads.dataset(
                    os.path.join(self.data_path(mode), d),
                    format="parquet", partitioning="hive",
                )
                n += sum(f.count_rows() for f in dset.get_fragments(filter=flt))
                if n > MICRO_COMMIT_ROWS:
                    return None
                sets.append(dset)
            tbl = pa.concat_tables(
                [x.to_table(filter=flt) for x in sets], promote_options="default"
            )
        except pa.ArrowException:
            return None
        return tbl if all(plain_type(t) for t in tbl.schema.types) else None

    def read_all(self, mode: str, at_version: int | None = None) -> DataFrame | None:
        """Current (or time-travel) snapshot, or None before the first
        commit.  Every dir it reads was published by a complete commit,
        so uncommitted or crashed-write debris is never listed."""
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
        tickers = None if ticker is None else [_j(ticker)] * 2
        ts = [_j(ts_min), _j(ts_max)]
        keep = [
            d for d in state["dirs"]
            if _may_touch(state["meta"].get(d), tsc, tickers, ts)
        ]
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
    _STATS_KEYS = {"table": ["ticker"], "interval": ["ticker", "interval"]}

    def _stats_keys(self, mode: str) -> dict:
        """The stats tables ``mode`` keeps, {which: keys}: streaming rows
        carry no interval, so they keep the table stats only."""
        return {
            which: keys for which, keys in self._STATS_KEYS.items()
            if not (which == "interval" and mode == "streaming")
        }

    def _read_stats(
        self, mode: str, which: str, at_version: int | None = None,
        state: dict | None = None,
    ):
        """Stats view of ``state`` (default: the fold at ``at_version``):
        the last cumulative snapshot FOLDED with every ingest increment
        committed since (r8).  The fold is one union + one aggregate over
        tiny frames — sum/min/max per key is associative, so a single
        groupBy equals the iterated ``merge_stats`` the per-commit
        snapshot path used to run.  The chain is bounded: ingest
        materializes a fresh snapshot every ``STATS_FOLD_EVERY``
        increments and every mutation/compaction materializes too."""
        if state is None:
            state = self.log(mode).state(at_version)
        cum, incs = state["stats"], state["stats_incs"]
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

    def _write_stats(
        self, mode: str, state: dict, stats_of, inc: bool = False
    ) -> dict:
        """Write one stats dir under the log — invisible until a commit
        points at it, and recorded in the attempt's ``state`` for cleanup
        — and return its pointer {which: rel path}.  ``stats_of(which,
        keys)`` gives each table, or None to leave it out:

        - a Spark frame: a CUMULATIVE snapshot (``stats-<version>-*``);
        - with ``inc``, an Arrow table in ``batch_stats``'s exact schema:
          one ingest's version-independent INCREMENT (``stats-inc-*``),
          written by pyarrow on the driver with zero Spark jobs (r8), so
          ``_read_stats`` folds both kinds interchangeably."""
        import pyarrow.parquet as pq

        log_dir = self.log(mode).log_dir
        stats_dir = (
            f"stats-inc-{uuid.uuid4().hex[:12]}" if inc
            else f"stats-{state['version'] + 1:08d}-{uuid.uuid4().hex[:8]}"
        )
        state["written"].append(os.path.join(log_dir, stats_dir))
        ptr = {}
        for which, keys in self._stats_keys(mode).items():
            tbl = stats_of(which, keys)
            if tbl is None:
                continue
            rel = os.path.join(stats_dir, which)
            if inc:
                os.makedirs(os.path.join(log_dir, stats_dir), exist_ok=True)
                pq.write_table(tbl, os.path.join(log_dir, rel))
            else:
                tbl.coalesce(1).write.parquet(os.path.join(log_dir, rel))
            ptr[which] = rel
        return ptr

    def _stats_plus(self, mode: str, state: dict, df: DataFrame):
        """``stats_of`` for a commit that only ADDS ``df``'s rows: the
        prior view merged with their batch stats."""
        return lambda which, keys: merge_stats(
            self._read_stats(mode, which, state=state),
            batch_stats(df, mode, which == "interval"),
            keys,
        )

    def _stats_after_removal(
        self, mode: str, state: dict, affected: DataFrame,
        removes: list[str], adds: list[str],
    ) -> dict:
        """Write the stats snapshot of a commit that REMOVES rows.  Stats
        cannot be decremented (count/min/max do not subtract), so every
        stats row keyed by ``affected`` — joined on its columns that are
        stats keys — is recomputed exactly from the post-commit snapshot,
        and the rest of the prior view is carried: bounded by the keys
        the commit touched, never a rescan of untouched tickers."""
        gone = set(removes)
        post = self._read_dirs(
            mode, [d for d in state["dirs"] if d not in gone] + adds
        )

        def stats_of(which, keys):
            on = [k for k in keys if k in affected.columns]
            prior = self._read_stats(mode, which, state=state)
            fresh = None if post is None else batch_stats(
                post.join(affected, on=on, how="left_semi"),
                mode,
                which == "interval",
            )
            if prior is None:
                return fresh
            kept = prior.join(affected, on=on, how="left_anti")
            return kept if fresh is None else kept.unionByName(fresh)

        return self._write_stats(mode, state, stats_of)

    # -- write -----------------------------------------------------------
    MAX_FAST_RETRIES = 24  # rebases per _commit attempt (no recompute)

    def _interleaved_commits_safe(
        self, mode: str, base_version: int, upto: int, dir_meta: dict
    ) -> bool:
        """Delta-style LOGICAL conflict detection: is a delta computed
        against ``base_version`` still valid at ``upto``?

        A blind append's dedup/version assignment can only change if an
        interleaved commit touched ITS keys.  A key collision needs both
        the same ticker AND the same timestamp, so an interleaved ingest
        whose recorded (ticker, ts) bounds are disjoint from this
        batch's on EITHER axis provably shares no keys.  Compaction is
        physical-only.  Anything else returns False and the attempt
        re-runs: merge / delete / retain / restore, a commit without
        bounds, vacuumed history — and a vacuum checkpoint above the
        base, which REPLACED the commit at its version and so may hide
        an interleaved ingest that shares keys.  This is what keeps
        sustained multi-writer ingest live: without it the slower writer
        PHASE-LOCKS (its ~seconds recompute always overlaps the faster
        writer's next commit) and starves through every retry — observed
        in the two-process race test before this path existed."""
        log = self.log(mode)
        if log.min_version() > base_version + 1:
            return False  # vacuum ate interleaved history: can't verify
        try:
            commits = log.commits(upto=upto, since=base_version + 1)
        except (VacuumedVersion, FileNotFoundError):
            return False
        if commits and commits[0]["version"] != base_version + 1:
            return False  # vacuumed since the check above
        tsc = S.TS_COL[mode]
        for c in commits:
            op = c.get("op") or ("compact" if c.get("removes") else "ingest")
            if op == "compact":
                continue  # physical rewrite: no logical change
            if op not in ("ingest", "convert"):
                return False
            for d in c.get("adds", []):
                m = (c.get("meta") or {}).get(d)
                if _may_touch(m, tsc, dir_meta["ticker"], dir_meta[tsc]):
                    return False  # no bounds, or a possibly shared key
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
        fixed per-commit cost across the whole group (measured on a
        500-row streamed commit at ``local[2]``: one Spark job — the
        probe of the batch — and ~0.1 s in the store, whatever the size
        up to ``MICRO_COMMIT_ROWS``; over it, the Spark path's checkpoint
        and write jobs), and cutting the multi-writer conflict rate by
        the group factor.

        Disjointness is PROVEN, not assumed, from the same grouped
        stats the single-batch path already computes: two batches may
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
        tagged = _union(
            [b.withColumn(_GBID, F.lit(i)) for i, b in enumerate(batches)]
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
        """The ingest contract (``sources/ingest.py``), atomically: one
        probe of the batch, a ``_commit`` attempt, its rebase hook and
        one post-publish step.

        The PROBE collects the raw batch once (``collect_micro``: one
        ``limit(bound+1).toArrow()`` job on the source).  An empty batch
        returns 0 with no commit.  A batch within ``MICRO_COMMIT_ROWS``
        runs every step on the driver — ``versioned_delta_arrow``, the
        Arrow dir reader, ``write_micro`` and the stats increment — so
        a plain commit costs that one Spark job (measured at
        ``local[2]`` on 500-row streamed commits: ~0.09 s in the store,
        most of it the probe, where planning and checkpointing the
        delta in Spark cost ~0.7 s and 5-6 jobs per trigger).  Over the
        bound, or for a domain the Arrow path declines, the delta is
        planned in Spark and checkpointed once (``materialize_micro``).

        The delta is computed OPTIMISTICALLY as a pure append (no store
        probe) and its grouped stats double as the bounds probe: only
        live dirs whose recorded (ticker, ts) rectangle intersects the
        batch's are read for the dedup/version re-run (a key shared
        with a dir lies in both rectangles) — on the driver when their
        touched partitions provably fit the bound.  The ATTEMPT writes
        the batch dir and the batch's stats increment — every
        ``STATS_FOLD_EVERY`` increments, a cumulative snapshot.

        The REBASE hook: when every interleaved commit is a key-disjoint
        ingest (``_interleaved_commits_safe``), the written dir, version
        assignment and stats increment (version-independent, r8) are
        still exact, so the same payload publishes at the new head — a
        pure filesystem op.  A fold snapshot, an interleaved mutation or
        a possibly shared key re-runs the attempt.

        Only after the publish may ``_auto_compact`` fold the store.
        Consumers learn of the commit from ``read_changes``, so a
        failing compaction or a crash after the publish cannot hide the
        delta from them."""
        parts = PARTITION_COLS[mode]
        tsc = S.TS_COL[mode]
        ign = (_GBID,) if n_bids else ()
        # the finest stats grain: each increment folds from these rows
        gb_base = max(self._stats_keys(mode).values(), key=len)
        gb = gb_base + list(ign)
        zero = [0] * n_bids if n_bids else 0
        session_tz = self.spark.conf.get("spark.sql.session.timeZone")

        def stats_of(d: Delta):
            """The delta with its grouped stat rows (None when empty)."""
            if not d.n:
                return d, None
            return d, d.stat_rows(gb, tsc, parts, _MAX_PRUNE_PARTITIONS)

        def on_driver(tbl, prior=None):
            """The versioned delta of the Arrow batch ``tbl`` against the
            Arrow store rows ``prior``, or None when the Arrow path
            declines; its DataFrame is built only if something asks."""
            out = versioned_delta_arrow(tbl, prior, mode, self.tz, ign, session_tz)
            if out is None:
                return None
            return stats_of(Delta(
                lambda: self.spark.createDataFrame(out), out.num_rows, out
            ))

        def in_spark(frame, existing=None, touched=None):
            """The versioned delta planned in Spark and checkpointed once;
            its rows come back as Arrow when the count proves it micro."""
            return stats_of(materialize_micro(compute_versioned_delta(
                frame, existing, mode, self.tz, touched=touched,
                ignore_cols=ign,
            )))

        src = collect_micro(batch)
        if src is not None and not src.num_rows:
            return zero
        delta, grows = (src is not None and on_driver(src)) or in_spark(batch)
        if not delta.n:
            return zero
        if n_bids:
            # prove pairwise batch disjointness BEFORE any write;
            # raises _GroupOverlap -> caller ingests sequentially
            self._check_group_disjoint(grows, gb_base)
        bounds = _meta_of(grows, tsc)
        # rectangle pruning is only sound when every key is non-NULL
        # (NULL keys fall outside any recorded bounds)
        keys_total = (
            pc.sum(grows["nts"]).as_py() == delta.n
            and grows["ticker"].null_count == 0
            and bounds[tsc][0] is not None
        )
        last: dict = {}  # the latest attempt's payload

        def attempt(state):
            last.clear()
            d, g, dir_meta = delta, grows, bounds
            overlap = [
                x for x in state["dirs"]
                if not keys_total or _may_touch(
                    state["meta"].get(x), tsc, bounds["ticker"], bounds[tsc]
                )
            ]
            if overlap:
                # some live dir may share keys: re-run the dedup/version
                # pass against just those dirs, from the optimistic delta
                # (already deduped and routed — the batch's source is not
                # read again).  No group re-check: the store anti-join
                # only REMOVES rows, so it cannot create cross-batch
                # overlap.
                touched = _touched_parts(grows, parts) if parts else None
                redo = None
                if delta.tbl is not None:
                    prior = self._read_dirs_arrow(mode, overlap, touched)
                    if prior is not None:
                        redo = on_driver(
                            delta.tbl.drop_columns(["version", *parts]), prior
                        )
                d, g = redo or in_spark(
                    delta.df.drop("version", *parts),
                    self._read_dirs(mode, overlap),
                    touched,
                )
                if not d.n:
                    return None, zero
                dir_meta = _meta_of(g, tsc)
            out = d.drop(*ign)
            # distinct partition-tuple count, free from the stats rows:
            # pins the write's repartition width so each partition value
            # is one task and its file create runs in parallel (r12 —
            # see cluster_for_write).  Micro deltas write their files
            # straight from the Arrow table, driver-side.
            batch_dir = self._write_batch_dir(
                out, mode, state,
                n_parts=len(_touched_parts(g, parts)) if parts else None,
            )
            # batch-only stats depend ONLY on this delta: a
            # version-independent INCREMENT straight from the grouped
            # rows via pyarrow, zero extra Spark jobs (r8).  Every
            # STATS_FOLD_EVERY increments, a cumulative snapshot instead
            # (the Spark merge path) keeps the fold chain bounded.
            fold_now = len(state["stats_incs"]) >= self.STATS_FOLD_EVERY
            stats_ptr = self._write_stats(
                mode, state,
                self._stats_plus(mode, state, out.df) if fold_now
                else lambda which, keys: as_catalog_stats(
                    fold_stats(g, keys), keys, mode
                ),
                inc=not fold_now,
            )
            payload = {
                "adds": [batch_dir],
                "removes": [],
                "stats" if fold_now else "stats_inc": stats_ptr,
                "meta": {batch_dir: dir_meta},
            }
            last["payload"] = payload
            if not n_bids:
                return payload, d.n
            per = fold_stats(g, [_GBID], mins=(), maxs=())
            got = dict(zip(*per.to_pydict().values()))
            return payload, [got.get(i, 0) for i in range(n_bids)]

        def rebase(state, head):
            p = last["payload"]
            return "stats_inc" in p and self._interleaved_commits_safe(
                mode, state["version"], head, p["meta"][p["adds"][0]]
            )

        result = self._commit(mode, "ingest", attempt, rebase)
        if last:
            self._auto_compact(mode)
        return result

    def _auto_compact(self, mode: str) -> None:
        """Fold the store after an ingest publish once its live dir
        count reaches the ``auto_compact_every`` cadence ("auto": from
        the live row count, a driver-side fold of the per-dir "n" meta).
        Best-effort: a lost race just means another writer compacted (or
        appended — the next ingest retries); any other error raises."""
        if not self.auto_compact_every:
            return
        st = self.log(mode).state()
        cadence = self.auto_compact_every
        if cadence == "auto":
            from stock_ops_spark.plans.sizing import compact_cadence

            cadence = compact_cadence(sum(
                (st["meta"].get(d) or {}).get("n") or 0 for d in st["dirs"]
            ))
        if len(st["dirs"]) >= cadence:
            try:
                self.compact(mode)
            except RuntimeError:
                pass

    # -- the commit protocol ----------------------------------------------
    def _commit(self, mode: str, op: str, attempt, rebase=None):
        """Run one commit under optimistic concurrency — the one retry
        loop every write of the store publishes through.

        ``attempt(state)`` gets a fresh fold of the log (its prior stats
        included — nothing re-folds it) with an empty ``state["written"]``
        list; every invisible batch, stats and CDC dir it writes is
        recorded there (``_write_batch_dir``, ``_write_stats``,
        ``_write_cdc``).  It returns ``(payload, result)``, or
        ``(None, result)`` when there is nothing to commit.  The loop
        publishes the payload, stamped with ``op`` and ``ts``, at
        ``state["version"] + 1`` and returns ``result``.

        On a lost race, ``rebase(state, head)`` — when given — may say
        the attempt's written output is still valid at the new ``head``:
        the loop moves ``state["version"]`` there and publishes the same
        payload again, without re-running the attempt, at most
        ``MAX_FAST_RETRIES`` times per attempt.  Otherwise it deletes the
        recorded dirs — no commit references them — backs off and re-runs
        the attempt against the fresh state."""
        log = self.log(mode)
        for i in range(self.MAX_COMMIT_RETRIES):
            state = log.state()
            state["written"] = []
            payload, result = attempt(state)
            if payload is None:
                return result
            rebases = 0
            while True:
                try:
                    log.try_commit(
                        state["version"] + 1,
                        dict(payload, op=op, ts=time.time()),
                    )
                    return result
                except CommitConflict:
                    head = log.version()
                    if not (
                        rebase is not None
                        and rebases < self.MAX_FAST_RETRIES
                        and rebase(state, head)
                    ):
                        break
                rebases += 1
                state["version"] = head
                time.sleep(random.uniform(0.0, 0.05))  # desync the writers
            self._discard(state)
            _conflict_backoff(i)
        raise RuntimeError(
            f"{op} lost {self.MAX_COMMIT_RETRIES} commit races on {mode}"
        )

    @staticmethod
    def _discard(state: dict) -> None:
        """Delete the invisible dirs a losing attempt wrote."""
        for path in state["written"]:
            shutil.rmtree(path, ignore_errors=True)

    def _write_batch_dir(
        self, delta: Delta, mode: str, state: dict,
        meta: dict | None = None, n_parts: int | None = None,
    ) -> str:
        """Write ``delta`` as a fresh batch dir (invisible until the
        manifest commit; recorded in ``state``) and, given ``meta``,
        record its data-skipping bounds there — from the grouped-stats
        table, so a micro delta costs no job for them."""
        batch_dir = f"batch-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.data_path(mode), batch_dir)
        state["written"].append(path)
        delta.write(path, mode, n_parts=n_parts)
        if meta is not None:
            tsc = S.TS_COL[mode]
            meta[batch_dir] = _meta_of(delta.stat_rows(["ticker"], tsc), tsc)
        return batch_dir

    def _write_cdc(self, mode: str, state: dict, cdc: DataFrame) -> str:
        """Write a commit's change set under the log (invisible until the
        commit; recorded in ``state``): micro change sets are one
        driver-side file, with no sort — CDC rows carry no ordering
        contract."""
        rel = f"cdc-{state['version'] + 1:08d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.log(mode).log_dir, rel)
        state["written"].append(path)
        _probe(cdc).write(path)
        return rel

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
        tickers, ts = [_j(b[3]), _j(b[4])], [_j(b[5]), _j(b[6])]
        return [
            d for d in dirs
            if _may_touch(state["meta"].get(d), tsc, tickers, ts)
        ]

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

    def merge(self, source: DataFrame, mode: str) -> dict:
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
        keys = S.INDEX_COLS[mode]
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

        def attempt(state):
            # commit-level probe pruning (r8): only dirs whose recorded
            # key rectangles can intersect the source's participate in
            # BOTH the touched-dir discovery and the insert anti-join —
            # a key in a pruned dir would have to lie in two provably
            # disjoint rectangles.  An upsert against a time-ordered
            # store probes O(touched) dirs, not the store.
            probe_dirs = self._dirs_overlapping_keys(mode, src, state)
            tagged = self._read_dirs(mode, probe_dirs, tag=True)
            src_keys = src.select(*keys).distinct()
            adds: list[str] = []
            removes: list[str] = []
            meta: dict[str, dict] = {}
            cdc: list[DataFrame] = []
            n_upd = 0
            touched = [] if tagged is None else sorted(
                r[0]
                for r in tagged.join(src_keys, on=keys, how="left_semi")
                .select("__dir")
                .distinct()
                .collect()
            )
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
                adds.append(self._write_batch_dir(
                    _probe(_union([keep, post])), mode, state, meta
                ))
                removes = touched
                cdc.append(
                    pre.withColumn("_change_type", F.lit("update_preimage"))
                )
                cdc.append(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                )
            ins_src = src if tagged is None else src.join(
                tagged.select(*keys), on=keys, how="left_anti"
            )
            ins = materialize_micro(
                compute_versioned_delta(ins_src, None, mode, self.tz)
            )
            # pure update: carry the stats snapshot AND the outstanding
            # increment chain forward verbatim (index keys can't move);
            # with inserts, materialize a fresh cumulative snapshot
            # (the _read_stats fold already includes the chain)
            stats = {"stats": state["stats"], "stats_incs": state["stats_incs"]}
            if ins.n:
                adds.append(self._write_batch_dir(ins, mode, state, meta))
                cdc.append(ins.df.withColumn("_change_type", F.lit("insert")))
                stats = {
                    "stats": self._write_stats(
                        mode, state, self._stats_plus(mode, state, ins.df)
                    ),
                    "stats_incs": [],
                }
            if not adds:
                return None, {"updated": 0, "inserted": 0, "rewritten_dirs": 0,
                              "version": state["version"]}
            payload = {
                "adds": adds,
                "removes": removes,
                **stats,
                "meta": meta,
                "cdc": self._write_cdc(mode, state, _union(cdc)),
            }
            return payload, {
                "updated": n_upd,
                "inserted": ins.n,
                "rewritten_dirs": len(removes),
                "version": state["version"] + 1,
            }

        return self._commit(mode, "merge", attempt)

    def delete_where(self, mode: str, predicate: "Column | str") -> dict:
        """Delta-style DELETE: physically remove rows matching
        ``predicate``, rewriting ONLY the batch dirs that contain a
        matching row (file-pruned like ``merge``).  NULL predicate rows
        are KEPT (SQL DELETE semantics: only TRUE deletes).

        The affected (ticker[, interval]) stats rows are recomputed
        exactly from the post-delete snapshot (``_stats_after_removal``).
        The commit carries a CDC file of the deleted rows
        (_change_type='delete').
        """
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond_true = F.coalesce(cond, F.lit(False))
        finest = max(self._stats_keys(mode).values(), key=len)

        def attempt(state):
            tagged = self._read_dirs(mode, state["dirs"], tag=True)
            touched = [] if tagged is None else sorted(
                r[0]
                for r in tagged.where(cond_true)
                .select("__dir")
                .distinct()
                .collect()
            )
            if not touched:
                return None, {"deleted": 0, "rewritten_dirs": 0,
                              "version": state["version"]}
            tdf = self._read_dirs(mode, touched)
            doomed = materialize_micro(tdf.where(cond_true))
            keep = materialize_micro(tdf.where(~cond_true))
            meta: dict[str, dict] = {}
            adds = (
                [self._write_batch_dir(keep, mode, state, meta)]
                if keep.n else []
            )
            affected = doomed.df.select(*finest).distinct()
            payload = {
                "adds": adds,
                "removes": touched,
                "stats": self._stats_after_removal(
                    mode, state, affected, touched, adds
                ),
                "meta": meta,
                "cdc": self._write_cdc(
                    mode, state,
                    doomed.df.withColumn("_change_type", F.lit("delete")),
                ),
            }
            return payload, {
                "deleted": doomed.n,
                "rewritten_dirs": len(touched),
                "version": state["version"] + 1,
            }

        return self._commit(mode, "delete", attempt)

    def retain_before(self, mode: str, cutoff, cdc: bool = False) -> dict:
        """Retention as a manifest commit (reference parity: the Redis
        ``XTRIM`` analog, writer.py:293-297): drop rows whose time
        column is below ``cutoff``, driven by the commit-level
        data-skipping bounds:

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
        tsc = S.TS_COL[mode]
        cut = _j(cutoff)
        expired_rows = F.col(tsc) < F.lit(cutoff)

        def attempt(state):
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
            meta: dict[str, dict] = {}
            gone: list[DataFrame] = []  # rows leaving the snapshot
            affected: list[DataFrame] = []  # tickers whose stats move
            if straddle:
                sdf = self._read_dirs(mode, straddle)
                expired = materialize_micro(sdf.where(expired_rows))
                if expired.n:
                    keep = materialize_micro(sdf.where(~expired_rows))
                    if keep.n:
                        adds.append(
                            self._write_batch_dir(keep, mode, state, meta)
                        )
                    removes += straddle
                    affected.append(expired.df.select("ticker"))
                    gone.append(expired.df)
            if doomed_dirs:
                removes += doomed_dirs
                ddf = self._read_dirs(mode, doomed_dirs)
                # one-column scan: just the tickers (stats recompute set);
                # with cdc=True the full rows are read once for the feed
                affected.append(ddf.select("ticker"))
                gone.append(ddf)
            if not removes:
                return None, {"deleted_dirs": 0, "rewritten_dirs": 0,
                              "version": state["version"]}
            aff = _union(affected).distinct().localCheckpoint(eager=True)
            payload = {
                "adds": adds,
                "removes": removes,
                "stats": self._stats_after_removal(
                    mode, state, aff, removes, adds
                ),
                "meta": meta,
            }
            if cdc:
                payload["cdc"] = self._write_cdc(
                    mode, state,
                    _union(gone).withColumn("_change_type", F.lit("delete")),
                )
            return payload, {
                "deleted_dirs": len(doomed_dirs),
                # straddlers are removed only when they held expired rows
                "rewritten_dirs": len(removes) - len(doomed_dirs),
                "version": state["version"] + 1,
            }

        return self._commit(mode, "retain", attempt)

    def widen_types(self, mode: str) -> dict:
        """Cast-rewrite files whose physical column types conflict (the
        NONE→REAL affinity migration, reference sql_db.py:69-173) — the
        footer-driven per-file rewrite of ``maintenance.widen_types``
        (file names unchanged, so every commit's dir references stay
        valid; a kill mid-sweep leaves a subset widened, and re-running
        heals)."""
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
        for c in log.commits(upto=upto, since=from_version + 1):
            v = c["version"]
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
                # convert_from adopts a Hive-parquet tree as version
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
        return _union(frames)

    # -- maintenance -----------------------------------------------------
    def compact(self, mode: str) -> dict:
        """Rewrite all live batch dirs into one and swap atomically.
        Readers of the old snapshot keep working (old dirs survive
        until gc_orphans); new readers see one dir."""

        def attempt(state):
            dirs = state["dirs"]
            if len(dirs) <= 1:
                return None, {"rewritten": 0, "dirs_before": len(dirs)}
            # live row count folds driver-side from the per-dir "n" meta
            # (exactly what the auto-compact cadence reads) — lets the
            # rewrite use the one-file-per-partition layout when small
            metas = [state["meta"].get(d) for d in dirs]
            live_rows = (
                sum(m["n"] for m in metas)
                if all(m and m.get("n") is not None for m in metas)
                else None
            )
            # a store that provably fits the micro bound is rewritten on
            # the driver: read, concat, sort, one file per partition
            # value (``write_micro``); a type conflict or a declined
            # write takes the Spark rewrite of the same dirs
            tbl = None
            if live_rows is not None and live_rows <= MICRO_COMMIT_ROWS:
                tbl = self._read_dirs_arrow(mode, dirs)
            delta = Delta(
                lambda: self._read_dirs(mode, dirs),
                live_rows if tbl is None else tbl.num_rows, tbl,
            )
            new_dir = self._write_batch_dir(delta, mode, state)
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
                new_meta = self._dir_meta(delta.df, mode)
            payload = {
                "adds": [new_dir],
                "removes": list(dirs),
                # physical rewrite: stats are untouched — carry the
                # snapshot AND the outstanding increment chain forward
                # verbatim
                "stats": state["stats"],
                "stats_incs": state["stats_incs"],
                "meta": {new_dir: new_meta},
            }
            return payload, {"rewritten": len(dirs), "dirs_before": len(dirs)}

        return self._commit(mode, "compact", attempt)

    def restore(self, mode: str, to_version: int) -> dict:
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

        def attempt(state):
            if to_version == state["version"]:
                return None, {"restored_to": to_version,
                              "version": state["version"],
                              "n_deleted": 0, "n_reinserted": 0}
            # VacuumedVersion if gone
            target = self.log(mode).state(at_version=to_version)
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
            cdc = _union([
                deleted.withColumn("_change_type", F.lit("delete")),
                reinserted.withColumn("_change_type", F.lit("insert")),
            ]).localCheckpoint(eager=True)
            n_del = cdc.where(F.col("_change_type") == "delete").count()
            n_ins = cdc.where(F.col("_change_type") == "insert").count()
            live, back = set(state["dirs"]), set(target["dirs"])
            payload = {
                "adds": [d for d in target["dirs"] if d not in live],
                "removes": [d for d in state["dirs"] if d not in back],
                "stats": target["stats"],
                "stats_incs": target["stats_incs"],
                "meta": {
                    d: target["meta"][d]
                    for d in target["dirs"]
                    if d in target["meta"]
                },
                "cdc": self._write_cdc(mode, state, cdc),
            }
            return payload, {
                "restored_to": to_version,
                "version": state["version"] + 1,
                "n_deleted": n_del,
                "n_reinserted": n_ins,
            }

        return self._commit(mode, "restore", attempt)

    def convert_from(self, path: str, mode: str) -> dict:
        """Adopt an existing Hive-partitioned parquet tree at ``path`` as
        this manifest store's version 1 — the migration path a team with
        months of plain-parquet history needs to move onto the commit
        log without re-ingesting (Delta's CONVERT TO DELTA).  The tree is
        read with ``mergeSchema`` (files written before a column existed
        surface it as NULL), then one bandwidth-bound rewrite of it lands
        in a fresh batch dir, the running stats are computed from the
        adopted rows, and both publish in one atomic commit with
        data-skipping bounds.  The source tree is untouched; subsequent
        ``ingest_batch`` calls dedup/version against the adopted history
        exactly as if it had been ingested here, so the rows should carry
        the store's columns (``version`` and the mode's partition
        columns included).  Refuses a non-empty target (the adopted
        snapshot must BE version 1, or time travel would lie) — also
        when a racing writer commits first."""

        def refuse(v):
            return ValueError(
                f"convert_from requires an empty target log; {mode} is at "
                f"version {v}"
            )

        if self.log(mode).version() != 0:
            raise refuse(self.log(mode).version())
        if not os.path.exists(path):
            return {"adopted_rows": 0, "version": 0}
        try:
            df = self.spark.read.option("mergeSchema", "true").parquet(path)
        except AnalysisException as e:
            # a tree with no committed footers yet (only staging debris)
            # is an empty source, not an error
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                return {"adopted_rows": 0, "version": 0}
            raise
        delta = materialize_micro(df)

        def attempt(state):
            if state["version"] != 0:
                raise refuse(state["version"])
            meta: dict[str, dict] = {}
            payload = {
                "adds": [self._write_batch_dir(delta, mode, state, meta)],
                "removes": [],
                "stats": self._write_stats(
                    mode, state, self._stats_plus(mode, state, delta.df)
                ),
                "meta": meta,
            }
            return payload, {"adopted_rows": delta.n, "version": 1}

        return self._commit(mode, "convert", attempt)

    def vacuum(self, mode: str, retain_last: int = 8) -> dict:
        """Truncate commit history to the last ``retain_last`` versions —
        the Delta checkpoint + VACUUM analogue that stops the log (and
        everything ``gc_orphans`` must retain because a commit still
        references it) from growing without bound.  At one commit per
        micro-batch a year of streaming is ~10^5–10^6 JSON files all
        re-read by EVERY ``state()`` fold; at 100 TB the metadata pass
        would dominate small reads long before the data does.

        The horizon is H = current - retain_last + 1; commit H becomes
        a self-contained CHECKPOINT (adds = full live dir list at H,
        removes = [], the stats pointer and increment chain at H) and
        the commits below it are deleted — ``ManifestLog.checkpoint``,
        each step crash-safe on its own.  Stats/CDC dirs they referenced
        become unreferenced and age out via ``gc_orphans`` (which also
        gives in-flight readers its grace window).

        Time travel below H and change-feed cursors below H raise
        ``VacuumedVersion`` afterwards — truncation is the documented
        trade, never a silent wrong answer."""
        log = self.log(mode)
        cur = log.version()
        horizon = cur - retain_last + 1
        if cur == 0 or horizon <= log.min_version():
            return {"checkpointed": 0, "commits_dropped": 0}
        st = log.state(at_version=horizon)
        dropped = log.checkpoint(horizon, {
            "adds": list(st["dirs"]),
            "removes": [],
            "stats": st["stats"],
            "stats_incs": st["stats_incs"],
            "meta": {d: st["meta"][d] for d in st["dirs"] if d in st["meta"]},
            "op": "checkpoint",
            "ts": time.time(),
        })
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
        state = log.state()
        live = set(state["dirs"])
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
        cur_stats = {
            rel.split(os.sep)[0]
            for ptr in [state["stats"] or {}] + state["stats_incs"]
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
