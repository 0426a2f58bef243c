"""The store: partitioned parquet under a manifest commit log.

``ManifestStore`` is the engine's one store.  Every write — ingest,
merge, delete, retain, compaction — changes two things, the data files
and the stats catalog, and a plain append of each would leave a window
where a kill lands between them.  The reference closes that window with
SQLite's journal; this module closes it the way Delta Lake / Iceberg
do, reduced to what plain files can guarantee:

- every write puts its data in a FRESH batch directory
  (``batch-<uuid>/``, invisible to readers — nothing lists it);
- then ONE atomic, put-if-absent commit file
  (``__log/<version>.json``) publishes the batch dirs together with
  each dir's ``meta``: its data-skipping bounds, its row count and its
  per-key stats rows (``_meta_of``).  ``os.link`` from a tmp name gives
  compare-and-swap on POSIX (rename would silently overwrite a racing
  writer's commit).

The stats catalog is a driver fold of the live dirs' recorded stats
(``table_stats``, ``interval_stats``), the way Delta Lake keeps per-file
stats in its log's add actions: a removed dir's stats leave with it, so
no commit rewrites or recomputes stats, and no stats file exists.

A SIGKILL anywhere leaves either no commit (the data dirs are
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
once and works from that state alone; it writes its batch and CDC dirs
invisibly, recording each in the state; the loop PUBLISHES the returned
payload at ``state["version"] + 1``.  A LOST race either REBASES —
ingest's hook proves its written output still valid at the new head,
and the same payload publishes there — or deletes the recorded dirs,
backs off and re-runs the attempt against the fresh state.
``ManifestLog.checkpoint`` is the one history truncation — shared with
the deployment log in ``scheduling.py``.

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
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NullType

from stock_ops_spark import schemas as S
from stock_ops_spark.localrel import arrow_relation
from stock_ops_spark.operators.stats import fold_stats
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
    versioned_delta_arrow,
    versioned_delta_spark,
)
from stock_ops_spark.sources.layout import (
    PARTITION_COLS,
    arrow_partition_cols,
    mode_root,
    partition_range_predicate,
    partition_values_predicate,
)


def _j(v):
    """JSON-coerce a bound for the commit payload: dates and other
    non-JSON scalars become their ISO/str form, which orders the same."""
    return v if v is None or isinstance(v, (int, float, str)) else str(v)


def _span(lo, hi) -> list:
    """[min of ``lo``, max of ``hi``] (Arrow arrays), NULLs ignored."""
    return [_j(pc.min(lo).as_py()), _j(pc.max(hi).as_py())]


def _meta_of(stats, tsc: str) -> dict:
    """A dir's commit meta from its grouped-stats table (keyed by ticker
    and, at the stats grain outside streaming, interval, with
    ``rc``/``nts``/``lo``/``hi``): the data-skipping bounds — [min, max]
    of ticker and of the mode's time column, NULLs ignored — the dir's
    row count ``n``, and ``stats``, the per-key rows themselves as JSON
    columns (``lo``/``hi`` through ``_j``) that ``table_stats`` and
    ``interval_stats`` fold and ``retain_before`` reads the non-NULL
    time counts ``nts`` of.  The rows are listed in key order, so the
    meta does not depend on the order the delta's rows came in."""
    keys = [k for k in ("ticker", "interval") if k in stats.column_names]
    stats = stats.sort_by([(k, "ascending") for k in keys])
    return {
        "ticker": _span(stats["ticker"], stats["ticker"]),
        tsc: _span(stats["lo"], stats["hi"]),
        # per-dir row count: free here, and it makes the live store size
        # a DRIVER-SIDE fold of the manifest — the auto-compaction
        # cadence reads it without a Spark job
        "n": pc.sum(stats["rc"]).as_py() or 0,
        "stats": {
            **{k: stats[k].to_pylist() for k in keys},
            "rc": stats["rc"].to_pylist(),
            "nts": stats["nts"].to_pylist(),
            "lo": [_j(v) for v in stats["lo"].to_pylist()],
            "hi": [_j(v) for v in stats["hi"].to_pylist()],
        },
    }


def _key_rect(stats, tsc: str) -> dict | None:
    """``_meta_of`` a grouped-stats table (with ``nts``) whose rows all
    have a ticker and a time, else None — also for no rows.  Rectangle
    pruning is sound only then: a NULL key falls outside any recorded
    bounds."""
    n = pc.sum(stats["rc"]).as_py()
    if not n or pc.sum(stats["nts"]).as_py() != n or stats["ticker"].null_count:
        return None
    return _meta_of(stats, tsc)


def _dirs_touching(state: dict, tsc: str, rect: dict | None) -> list[str]:
    """The live dirs of ``state`` whose recorded (ticker, ts) rectangle
    may hold a key of ``rect`` (``_key_rect``; None: every live dir).  A
    key present in a dir lies in both rectangles, so a dir disjoint from
    ``rect`` holds none."""
    return [
        d for d in state["dirs"]
        if rect is None
        or _may_touch(state["meta"][d], tsc, rect["ticker"], rect[tsc])
    ]


def _disjoint(a, b) -> bool:
    """True when two [lo, hi] ranges provably do NOT intersect (a
    missing range or a None end is unbounded = may intersect)."""
    if not a or not b:
        return False
    return (a[1] is not None and b[0] is not None and a[1] < b[0]) or (
        b[1] is not None and a[0] is not None and b[1] < a[0]
    )


def _may_touch(meta: dict, tsc: str, tickers, ts) -> bool:
    """Can a dir with recorded bounds ``meta`` hold a row inside the
    (``tickers``, ``ts``) rectangle?  A shared key lies in both
    rectangles, so a dir disjoint on EITHER axis holds none."""
    return not (_disjoint(meta["ticker"], tickers) or _disjoint(meta[tsc], ts))


def _union(frames: list) -> DataFrame | None:
    """Union by name with missing columns NULL-filled (the mergeSchema
    evolution contract), or None for no frames."""
    out = None
    for f in frames:
        out = f if out is None else out.unionByName(f, allowMissingColumns=True)
    return out


def _touched_parts(stats, parts: list[str]) -> list[tuple]:
    """The distinct partition tuples of a grouped-stats table's ``tp``
    lists, or ``[]`` — "known over-cap": leave the store probe unpruned —
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


def _inside(a, b) -> bool:
    """True when the [lo, hi] range ``a`` lies inside ``b`` (a None end
    of ``b`` is open; a missing or open ``a`` is not inside)."""
    if not a or a[0] is None or a[1] is None:
        return False
    return (b[0] is None or b[0] <= a[0]) and (b[1] is None or a[1] <= b[1])


def _route(mode: str, tz: str, session_tz: str, v):
    """A time bound as the driver read compares it (an interday bound as
    a date) and the partition tuple it routes to by the rule every row
    was routed by (``arrow_partition_cols``; None for an unpartitioned
    mode or bound).  Routing is monotone in the event time — a later
    instant never falls on an earlier local day — so the tuples of two
    bounds bound the partitions a range can touch.  Raises for a bound
    that cannot be typed or routed as Spark does (an interday bound
    that is not an ISO date, an epoch outside Spark's range)."""
    if v is None:
        return None, None
    if mode == "historical_interday":
        return pa.scalar(v).cast(pa.date32()).as_py(), None
    tsc = S.TS_COL[mode]
    at = arrow_partition_cols(
        pa.table({tsc: pa.array([v], pa.int64())}), mode, tz, session_tz
    )
    return v, tuple(at[c][0].as_py() for c in PARTITION_COLS[mode])


def _range_predicate(mode: str, ticker, interval, lo, hi, parts_lo, parts_hi, col):
    """``read_where``'s predicate over ``col`` — ``F.col`` for the Spark
    read, ``pyarrow.dataset.field`` for the driver read: the ticker, the
    interval, the time bounds and the partition range between the
    bounds' routed tuples.  None when nothing is bounded."""
    tsc = S.TS_COL[mode]
    terms = [] if ticker is None else [col("ticker") == ticker]
    if interval is not None:
        terms.append(col("interval") == interval)
    if lo is not None:
        terms.append(col(tsc) >= lo)
    if hi is not None:
        terms.append(col(tsc) <= hi)
    prange = partition_range_predicate(PARTITION_COLS[mode], parts_lo, parts_hi, col)
    if prange is not None:
        terms.append(prange)
    pred = None
    for t in terms:
        pred = t if pred is None else pred & t
    return pred


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
        """Fold commits → {'version', 'dirs', 'meta'} where 'dirs' is
        the live dir list and 'meta' each live dir's recorded meta
        ({dir: {...}}: for a store's batch dir, ``_meta_of``)."""
        commits = self.commits(upto=at_version)
        dirs: list[str] = []
        seen: set[str] = set()  # membership twin of `dirs` (keeps the
        # fold linear; dirs alone would make every add/remove an O(n)
        # list scan — measured 2x on a 4k-dir checkpoint)
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
        version = commits[-1]["version"] if commits else 0
        return {"version": version, "dirs": dirs, "meta": meta}

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


def store_log(data_path: str) -> ManifestLog:
    """The commit log of the store data under ``data_path`` — the one
    place its ``__log`` sibling is named."""
    return ManifestLog(data_path + "__log")


def _read_dirs_arrow(
    root: str, dirs: list[str], flt=None, bound: int | None = MICRO_COMMIT_ROWS,
    parts: list[str] | None = None,
):
    """The store read of ``dirs`` (relative to ``root``, or absolute) on
    the driver: their union as one Arrow table, read through
    ``pyarrow.dataset`` with hive partitioning, the missing columns
    NULL-filled and only the rows the ``pyarrow.dataset`` expression
    ``flt`` keeps — or None when that cannot stand in for the Spark
    read: more than ``bound`` rows, a column type outside
    ``plain_type``, a type conflict between dirs, a filter the columns
    cannot evaluate, or a dir that cannot be opened.  ``flt`` prunes
    partition fragments before anything is counted or read, and the
    count comes from the pruned fragments' parquet footers — so a large
    compacted dir costs only the partitions the filter can touch.
    ``bound=None`` is a caller that already knows the rows fit (from the
    manifest's per-dir counts): nothing is counted.  Given ``parts``, the
    mode's partition columns, the hive partitions are typed as the
    layout routes them (int32) rather than inferred from the paths, so a
    dir whose partition values are all NULL reads as NULLs."""
    import pyarrow.dataset as pads

    hive = "hive" if parts is None else pads.partitioning(
        pa.schema([(c, pa.int32()) for c in parts]), flavor="hive"
    )
    try:
        sets, n = [], 0
        for d in dirs:
            dset = pads.dataset(
                os.path.join(root, d), format="parquet", partitioning=hive,
            )
            if bound is not None:
                n += sum(f.count_rows() for f in dset.get_fragments(filter=flt))
                if n > bound:
                    return None
            sets.append(dset)
        tbl = pa.concat_tables(
            [x.to_table(filter=flt) for x in sets], promote_options="default"
        )
    except (pa.ArrowException, OSError):
        # a missing dir too: the Spark read raises its own error
        return None
    return tbl if all(plain_type(t) for t in tbl.schema.types) else None


def change_pieces(log: ManifestLog, from_version: int, upto: int) -> list[tuple]:
    """The change feed of a store's commits (``from_version``, ``upto``]
    planned from its ``log`` alone, as pieces ``(version, dirs, derive,
    n)``: the dirs holding one commit's changes, whether its
    ``_change_type`` is derived from the ``version`` column, and its row
    count when the commit recorded one (None for a change-data file).

    A commit that published a change-data file (merge, delete, a
    ``cdc=True`` retention, restore) is that file, absolute; an ingest
    or ``convert_from`` commit is its added dirs, relative to the data
    path, whose rows are version-1 'insert' or re-sent
    'update_postimage' changes; compaction is no logical change.
    Raises ``VacuumedVersion`` for a span starting below the vacuum
    horizon and ``ChangeFeedGap`` for one crossing a retention recorded
    without row changes — never a silent skip."""
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
    pieces = []
    for c in log.commits(upto=upto, since=from_version + 1):
        v = c["version"]
        op = c["op"]
        if op == "compact":
            continue
        if op == "retain" and not c.get("cdc"):
            # metadata-only retention recorded no row changes; a cursor
            # below it cannot fold deletions it never sees
            raise ChangeFeedGap(
                f"change feed from {from_version} crosses retention "
                f"commit {v} recorded without row-level CDC "
                f"(retain_before(cdc=False)); re-bootstrap from a "
                f"snapshot at version >= {v}"
            )
        if c.get("cdc"):
            pieces.append((v, [os.path.join(log.log_dir, c["cdc"])], False, None))
        elif op in ("ingest", "convert") and c["adds"]:
            # convert_from's adopted rows ARE the feed's opening
            # changes, derived like ingest's from their version column
            n = sum(c["meta"][d]["n"] for d in c["adds"])
            pieces.append((v, c["adds"], True, n))
    return pieces


def change_piece_arrow(
    root: str, parts: list[str], piece: tuple, bound: int | None = None
):
    """One ``change_pieces`` piece read on the driver (``_read_dirs_arrow``
    under ``root``, the store's data path, partitioned by ``parts``,
    counted against ``bound``) with its ``_change_type`` (string;
    derived from ``version`` for an ingest piece) and
    ``_commit_version`` (int32) columns, or None when the driver read
    declines."""
    v, dirs, derive, _n = piece
    tbl = _read_dirs_arrow(
        root, dirs, bound=bound, parts=parts if derive else None
    )
    if tbl is None or derive and "version" not in tbl.column_names:
        return None
    if derive:
        upd = pc.fill_null(pc.greater(tbl["version"], 1), False)
        tbl = tbl.append_column("_change_type", pc.if_else(
            upd, pa.scalar("update_postimage"), pa.scalar("insert")
        ))
    return tbl.append_column(
        "_commit_version", pa.array([v] * tbl.num_rows, pa.int32())
    )


class ManifestStore:
    """Partitioned-parquet store for one (provider, exchange), every
    write published by a manifest commit.

    The dedup/versioning contract lives in ``sources/ingest.py``; the
    physical layout is:

        <root>/<provider>/<exchange>/<mode>/batch-<uuid>/<hive parts>/
        <root>/<provider>/<exchange>/<mode>__log/NNNNNNNN.json
        <root>/<provider>/<exchange>/<mode>__log/cdc-NNNNNNNN-<uuid>/

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
        return store_log(self.data_path(mode))

    # -- read ------------------------------------------------------------
    def _read_dirs(
        self, mode: str, dirs: list[str], tag: bool = False
    ) -> DataFrame | None:
        """The union of ``dirs``, each read with its own basePath;
        ``tag`` adds a ``__dir`` provenance column — the probe frame
        file pruning works on (which batch dirs a mutation touches).
        Partition columns are int, as the layout routes them: Spark
        types the partitions of a dir whose values are all NULL as
        VOID, which a rewrite cannot partition by."""
        frames = []
        for d in dirs:
            p = os.path.join(self.data_path(mode), d)
            df = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", p)
                .parquet(p)
            )
            void = [
                f.name for f in df.schema
                if f.name in PARTITION_COLS[mode] and isinstance(f.dataType, NullType)
            ]
            if void:
                df = df.withColumns({c: F.col(c).cast("int") for c in void})
            frames.append(df.withColumn("__dir", F.lit(d)) if tag else df)
        return _union(frames)

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
        interval: str | None = None,
    ) -> DataFrame | None:
        """The rows of ``ticker`` and ``interval`` with the time column in
        [``ts_min``, ``ts_max``] (each None: unbounded) — the reference's
        ``_query_range``, ``AND interval = ?`` included.

        COMMIT-LEVEL data skipping: batch dirs whose recorded [min, max]
        bounds (``_meta_of``, kept in the commit payload and folded by
        ``state()``) provably miss the predicate are never handed to
        Spark at all — no file listing, no footer read, no plan
        relation.  Parquet's own footer stats prune row groups only
        after every file is opened; at 10^4+ batch dirs the listing
        itself is the cost, and this is the manifest-level skip
        Delta/Iceberg use.  The whole predicate is then applied to the
        kept dirs' rows, so pruning is an optimization, never a
        semantics change.

        When the kept dirs hold at most ``MICRO_COMMIT_ROWS`` rows in the
        partition range of the time bounds, the read runs on the driver
        (``_read_dirs_arrow``, the predicate as its filter) and comes
        back as one local relation (``DataFrame.isLocal()``) without a
        Spark job, remembering its Arrow table (``localrel.arrow_table``)
        so a caller can take the rows back without one either; a larger
        read, or one the driver read declines, is the Spark read of the
        same dirs.  The manifest's per-dir row counts decide without I/O
        where they can: kept dirs whose counts sum within the bound are
        read uncounted, and a read whose dirs lying wholly inside the
        predicate already hold more goes to Spark with nothing opened;
        only a read in between counts its partition fragments' footers
        first.

        Either way the rows come back in time order, NULL times first
        (sorted in Arrow on the driver, a Spark sort otherwise)."""
        tsc = S.TS_COL[mode]
        state = self.log(mode).state(at_version)
        tickers = None if ticker is None else [_j(ticker)] * 2
        ts = [_j(ts_min), _j(ts_max)]
        metas = state["meta"]
        keep = [d for d in state["dirs"] if _may_touch(metas[d], tsc, tickers, ts)]
        if stats is not None:
            stats["dirs_total"] = len(state["dirs"])
            stats["dirs_read"] = len(keep)
        if not keep:
            return None
        session_tz = self.spark.conf.get("spark.sql.session.timeZone")
        try:
            (lo, parts_lo), (hi, parts_hi) = (
                _route(mode, self.tz, session_tz, v) for v in (ts_min, ts_max)
            )
        except (pa.ArrowException, TypeError, ValueError):
            # a bound the driver read cannot compare as Spark does: the
            # Spark read, with the bounds as given
            (lo, parts_lo), (hi, parts_hi) = (ts_min, None), (ts_max, None)
            on_driver = False
        else:
            ns = [metas[d]["n"] for d in keep]
            inside = sum(
                n for d, n in zip(keep, ns)
                if _inside(metas[d]["ticker"], tickers or [None, None])
                and _inside(metas[d][tsc], ts)
            )
            on_driver = inside <= MICRO_COMMIT_ROWS
        if on_driver:
            import pyarrow.dataset as pads

            fits = sum(ns) <= MICRO_COMMIT_ROWS
            tbl = _read_dirs_arrow(
                self.data_path(mode), keep,
                _range_predicate(
                    mode, ticker, interval, lo, hi, parts_lo, parts_hi, pads.field
                ),
                bound=None if fits else MICRO_COMMIT_ROWS,
            )
            if tbl is not None:
                return arrow_relation(
                    self.spark,
                    tbl.sort_by([(tsc, "ascending")], null_placement="at_start"),
                )
        df = self._read_dirs(mode, keep)
        pred = _range_predicate(
            mode, ticker, interval, lo, hi, parts_lo, parts_hi, F.col
        )
        if pred is not None:
            df = df.where(pred)
        return df.orderBy(tsc)

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

    def _stats_grain(self, mode: str) -> list[str]:
        """The finest stats keys of ``mode``: every table folds from
        stat rows grouped by these."""
        return max(self._stats_keys(mode).values(), key=len)

    def _dir_stats(self, mode: str, dirs: list[str], metas: dict):
        """The per-key stat rows the commit meta ``metas`` records for
        ``dirs``, as one Arrow table at the stats grain (``rc``, ``lo``
        and ``hi`` typed as the catalog keeps them, ``nts`` beside
        ``rc``)."""
        ts = pa.string() if mode == "historical_interday" else pa.int64()
        types = {k: pa.string() for k in self._stats_grain(mode)}
        types.update(rc=pa.int64(), nts=pa.int64(), lo=ts, hi=ts)
        recs = [metas[d]["stats"] for d in dirs]
        return pa.table({
            c: pa.array([v for r in recs for v in r[c]], t)
            for c, t in types.items()
        })

    def _read_stats(
        self, mode: str, which: str, at_version: int | None = None
    ) -> DataFrame | None:
        """The ``which`` stats view at ``at_version`` (default: the head)
        as one local relation in ``batch_stats``'s schema: the live
        dirs' recorded stats folded on the driver by ``fold_stats`` —
        sum/min/max per key is associative — so no file is read and no
        Spark job runs.  None before the first commit and for a table
        ``mode`` does not keep; empty once no row is live."""
        state = self.log(mode).state(at_version)
        if not state["version"] or which not in self._stats_keys(mode):
            return None
        keys = self._STATS_KEYS[which]
        rows = self._dir_stats(mode, state["dirs"], state["meta"])
        tbl = fold_stats(rows, keys)
        return arrow_relation(self.spark, as_catalog_stats(tbl, keys, mode))

    def table_stats(self, mode: str) -> DataFrame | None:
        return self._read_stats(mode, "table")

    def interval_stats(self, mode: str) -> DataFrame | None:
        return self._read_stats(mode, "interval")

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
        re-runs: merge / delete / retain / restore, vacuumed history —
        and a vacuum checkpoint above the base, which REPLACED the
        commit at its version and so may hide an interleaved ingest
        that shares keys.  This is what keeps
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
            op = c["op"]
            if op == "compact":
                continue  # physical rewrite: no logical change
            if op not in ("ingest", "convert"):
                return False
            for d in c["adds"]:
                if _may_touch(c["meta"][d], tsc, dir_meta["ticker"], dir_meta[tsc]):
                    return False  # a possibly shared key
        return True

    def ingest_batch(self, batch: DataFrame, mode: str) -> int:
        """One batch, one commit: the ingest contract
        (``sources/ingest.py``), atomically — one probe of the batch, a
        ``_commit`` attempt, its rebase hook and one post-publish step.
        Returns the appended-row count.  Concurrent writers (several
        streams' ``foreachBatch``, several processes) each call this;
        the commit loop's rebase path keeps them live without grouping
        their batches (measured in interleaved pairs, grouping lost or
        tied in every shape tried — SCALING.md).

        The PROBE collects the raw batch once (``collect_micro``: one
        ``limit(bound+1).toArrow()`` job on the source).  An empty batch
        returns 0 with no commit.  A batch within ``MICRO_COMMIT_ROWS``
        runs every step on the driver — the one delta kernel
        ``versioned_delta_arrow``, the Arrow dir reader, ``write_micro``
        and the dir's meta — so a plain commit costs that one Spark job
        (measured at ``local[2]`` on 500-row streamed commits: ~0.09 s
        in the store, most of it the probe, where planning and
        checkpointing the delta in Spark cost ~0.7 s and 5-6 jobs per
        trigger).  Over the bound, or for a column type outside
        ``plain_type``, the same kernel runs in Spark once per key
        bucket (``versioned_delta_spark``) and the delta is checkpointed
        once (``materialize_micro``).

        The delta is computed OPTIMISTICALLY as a pure append (no store
        probe) and its grouped stats double as the bounds probe: only
        live dirs whose recorded (ticker, ts) rectangle intersects the
        batch's are read for the dedup/version re-run (a key shared
        with a dir lies in both rectangles) — on the driver when their
        touched partitions provably fit the bound.  The ATTEMPT writes
        the batch dir; the same grouped rows give its commit meta
        (``_meta_of``: bounds, row count and per-key stats).

        The REBASE hook: when every interleaved commit is a key-disjoint
        ingest (``_interleaved_commits_safe``), the written dir, version
        assignment and meta (which depends on this delta alone) are
        still exact, so the same payload publishes at the new head — a
        pure filesystem op.  An interleaved mutation or a possibly
        shared key re-runs the attempt.

        Only after the publish may ``_auto_compact`` fold the store.
        Consumers learn of the commit from ``read_changes``, so a
        failing compaction or a crash after the publish cannot hide the
        delta from them."""
        parts = PARTITION_COLS[mode]
        tsc = S.TS_COL[mode]
        gb = self._stats_grain(mode)
        session_tz = self.spark.conf.get("spark.sql.session.timeZone")

        def stats_of(d: Delta):
            """The delta with its grouped stat rows (None when empty)."""
            if not d.n:
                return d, None
            return d, d.stat_rows(gb, tsc, parts, _MAX_PRUNE_PARTITIONS)

        def on_driver(tbl, prior=None):
            d = self._driver_delta(tbl, prior, mode, session_tz)
            return d and stats_of(d)

        def in_spark(frame, existing=None):
            """The kernel run per key bucket in Spark and checkpointed
            once; its rows come back as Arrow when the count proves it
            micro."""
            return stats_of(materialize_micro(
                versioned_delta_spark(frame, existing, mode, self.tz)
            ))

        src = collect_micro(batch)
        if src is not None and not src.num_rows:
            return 0
        delta, grows = (src is not None and on_driver(src)) or in_spark(batch)
        if not delta.n:
            return 0
        rect = _key_rect(grows, tsc)
        bounds = rect or _meta_of(grows, tsc)
        last: dict = {}  # the latest attempt's payload

        def attempt(state):
            last.clear()
            d, g, dir_meta = delta, grows, bounds
            overlap = _dirs_touching(state, tsc, rect)
            if overlap:
                # some live dir may share keys: re-run the dedup/version
                # pass against just those dirs, from the optimistic delta
                # (already deduped and routed — the batch's source is not
                # read again).
                touched = _touched_parts(grows, parts) if parts else None
                redo = None
                if delta.tbl is not None:
                    import pyarrow.dataset as pads

                    prior = _read_dirs_arrow(
                        self.data_path(mode), overlap,
                        partition_values_predicate(parts, touched or [], pads.field),
                    )
                    if prior is not None:
                        redo = on_driver(
                            delta.tbl.drop_columns(["version", *parts]), prior
                        )
                if redo is None:
                    existing = self._read_dirs(mode, overlap)
                    pred = partition_values_predicate(parts, touched or [])
                    if pred is not None:
                        existing = existing.where(pred)
                    redo = in_spark(delta.df.drop("version", *parts), existing)
                d, g = redo
                if not d.n:
                    return None, 0
                dir_meta = _meta_of(g, tsc)
            # distinct partition-tuple count, free from the stats rows:
            # pins the write's repartition width so each partition value
            # is one task and its file create runs in parallel (r12 —
            # see cluster_for_write).  Micro deltas write their files
            # straight from the Arrow table, driver-side.
            batch_dir = self._write_batch_dir(
                d, mode, state,
                n_parts=len(_touched_parts(g, parts)) if parts else None,
            )
            payload = {
                "adds": [batch_dir],
                "removes": [],
                "meta": {batch_dir: dir_meta},
            }
            last["payload"] = payload
            return payload, d.n

        def rebase(state, head):
            p = last["payload"]
            return self._interleaved_commits_safe(
                mode, state["version"], head, p["meta"][p["adds"][0]]
            )

        result = self._commit(mode, "ingest", attempt, rebase)
        if last:
            self._auto_compact(mode)
        return result

    def _driver_delta(
        self, tbl, prior, mode: str, session_tz: str
    ) -> Delta | None:
        """``versioned_delta_arrow`` of the Arrow batch ``tbl`` against
        the Arrow store rows ``prior`` (or None; the dir reader yields
        only ``plain_type`` columns), on the driver, as a ``Delta`` whose
        frame is built only if something asks; None when a batch column
        type is outside ``plain_type`` or the kernel declines — the
        caller then runs the kernel in Spark."""
        if not all(plain_type(t) for t in tbl.schema.types):
            return None
        out = versioned_delta_arrow(tbl, prior, mode, self.tz, session_tz)
        if out is None:
            return None
        return Delta(lambda: arrow_relation(self.spark, out), out.num_rows, out)

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

            cadence = compact_cadence(sum(st["meta"][d]["n"] for d in st["dirs"]))
        if len(st["dirs"]) >= cadence:
            try:
                self.compact(mode)
            except RuntimeError:
                pass

    # -- the commit protocol ----------------------------------------------
    def _commit(self, mode: str, op: str, attempt, rebase=None):
        """Run one commit under optimistic concurrency — the one retry
        loop every write of the store publishes through.

        ``attempt(state)`` gets a fresh fold of the log (nothing re-folds
        it) with an empty ``state["written"]`` list; every invisible
        batch and CDC dir it writes is recorded there
        (``_write_batch_dir``, ``_write_cdc``).  It returns ``(payload,
        result)``, or ``(None, result)`` when there is nothing to commit.  The loop
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
        record its ``_meta_of`` there — from the delta's grouped stats
        at the stats grain, so a micro delta costs no job for them."""
        batch_dir = f"batch-{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.data_path(mode), batch_dir)
        state["written"].append(path)
        delta.write(path, mode, n_parts=n_parts)
        if meta is not None:
            tsc = S.TS_COL[mode]
            meta[batch_dir] = _meta_of(
                delta.stat_rows(self._stats_grain(mode), tsc), tsc
            )
        return batch_dir

    def _write_cdc(self, mode: str, state: dict, cdc: Delta) -> str:
        """Write a commit's change set under the log (invisible until the
        commit; recorded in ``state``): micro change sets are one
        driver-side file, with no sort — CDC rows carry no ordering
        contract."""
        rel = f"cdc-{state['version'] + 1:08d}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.log(mode).log_dir, rel)
        state["written"].append(path)
        cdc.write(path)
        return rel

    # -- physical mutation: MERGE / DELETE (file-pruned rewrite) ---------
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

        Every dir the commit writes records its own stats in its meta,
        so the stats view follows the rewrite with nothing carried or
        recomputed.

        Source contract: key columns typed per ``schemas.SCHEMAS[mode]``,
        key-unique (raises otherwise), payload = every non-key column;
        NULL payload in the source overwrites (replace semantics).
        Reference parity: the reference's SQLite writer updates rows via
        INSERT OR REPLACE under its journal (sql_db.py); this is the
        multi-file equivalent with the rewrite pruned to touched files.
        """
        keys = S.INDEX_COLS[mode]
        tsc = S.TS_COL[mode]
        session_tz = self.spark.conf.get("spark.sql.session.timeZone")
        sdelta = materialize_micro(source)
        src, _n_src, stbl = sdelta
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
        # the source's (ticker, ts) rectangle from the grouped statistic
        # ingest's bounds come from: no job for a micro source
        rect = _key_rect(sdelta.stat_rows(["ticker"], tsc), tsc)

        def attempt(state):
            # commit-level probe pruning (r8): only dirs whose recorded
            # key rectangles can intersect the source's participate in
            # BOTH the touched-dir discovery and the insert anti-join —
            # a key in a pruned dir would have to lie in two provably
            # disjoint rectangles.  An upsert against a time-ordered
            # store probes O(touched) dirs, not the store.
            probe_dirs = _dirs_touching(state, tsc, rect)
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
            # the inserts of a micro source are micro: the kernel runs on
            # the driver over their collected rows
            ins_tbl = stbl if tagged is None else (
                None if stbl is None else collect_micro(ins_src)
            )
            ins = (
                ins_tbl is not None
                and self._driver_delta(ins_tbl, None, mode, session_tz)
            ) or materialize_micro(
                versioned_delta_spark(ins_src, None, mode, self.tz)
            )
            if ins.n:
                adds.append(self._write_batch_dir(ins, mode, state, meta))
                cdc.append(ins.df.withColumn("_change_type", F.lit("insert")))
            if not adds:
                return None, {"updated": 0, "inserted": 0, "rewritten_dirs": 0,
                              "version": state["version"]}
            payload = {
                "adds": adds,
                "removes": removes,
                "meta": meta,
                "cdc": self._write_cdc(mode, state, _probe(_union(cdc))),
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

        The rewritten dir records its own stats, so the stats view
        drops the deleted rows with nothing recomputed.  The commit
        carries a CDC file of the deleted rows (_change_type='delete').
        """
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond_true = F.coalesce(cond, F.lit(False))

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
            payload = {
                "adds": adds,
                "removes": touched,
                "meta": meta,
                "cdc": self._write_cdc(mode, state, _probe(
                    doomed.df.withColumn("_change_type", F.lit("delete"))
                )),
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
        data-skipping bounds.  A NULL time is KEPT (``delete_where``'s
        rule: only TRUE deletes):

        - dirs whose recorded ts upper bound < ``cutoff`` and whose
          stats count no NULL time are removed METADATA-ONLY — nothing
          read (their recorded stats leave the stats view with them);
        - dirs whose lower bound >= ``cutoff``, or with no time at all,
          are untouched;
        - the others — straddling the cutoff, or expired but holding
          NULL times — get a keep-part rewrite (bounded by them, never
          the store).

        ``cdc=False`` (default — the 100 TB posture) records op='retain'
        with NO row-level change file: expiring a year of history must
        not re-read it just to log it.  The trade is explicit:
        ``read_changes`` / the ``stockops_cdc`` stream RAISE
        ``ChangeFeedGap`` for any cursor below such a commit, so a
        downstream view re-bootstraps from a snapshot instead of
        silently keeping expired rows.  ``cdc=True`` reads the doomed
        rows once and keeps the feed exact: its delete changes are
        exactly the rows that leave.
        """
        tsc = S.TS_COL[mode]
        cut = _j(cutoff)
        expired_rows = F.coalesce(F.col(tsc) < F.lit(cutoff), F.lit(False))

        def attempt(state):
            doomed_dirs: list[str] = []
            straddle: list[str] = []
            for d in state["dirs"]:
                m = state["meta"][d]
                lo, hi = m[tsc]
                if lo is None or lo >= cut:
                    continue  # provably all-retained: untouched
                if hi < cut and sum(m["stats"]["nts"]) == m["n"]:
                    doomed_dirs.append(d)
                else:
                    straddle.append(d)
            adds: list[str] = []
            removes: list[str] = []
            meta: dict[str, dict] = {}
            gone: list[DataFrame] = []  # rows leaving the snapshot
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
                    gone.append(expired.df)
            removes += doomed_dirs
            if not removes:
                return None, {"deleted_dirs": 0, "rewritten_dirs": 0,
                              "version": state["version"]}
            payload = {"adds": adds, "removes": removes, "meta": meta}
            if cdc:
                # the doomed dirs' rows are read only for the feed
                if doomed_dirs:
                    gone.append(self._read_dirs(mode, doomed_dirs))
                payload["cdc"] = self._write_cdc(mode, state, _probe(
                    _union(gone).withColumn("_change_type", F.lit("delete"))
                ))
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

        One planner, two consumers: ``change_pieces`` plans the span
        from the log and ``change_piece_arrow`` reads a piece on the
        driver, for this method and for the ``stockops_cdc`` stream
        (``sources/pyds.py``) alike.  Per commit kind: ingest adds are
        DERIVED as changes with no extra storage (``_change_type`` =
        'insert' for version-1 rows, 'update_postimage' for a
        conflict-versioned re-send — the logical update in this store's
        versioned model); merge/delete commits read the explicit CDC
        file their commit published; compaction is invisible (no logical
        change).  Every row carries ``_commit_version`` so a consumer
        can checkpoint its own cursor.

        Requires the referenced batch dirs to still exist — run
        ``gc_orphans`` with a grace no shorter than the slowest
        consumer's lag.

        A span whose pieces hold at most ``MICRO_COMMIT_ROWS`` rows in
        all is read on the driver: per commit one Arrow table, the
        tables concatenated by name into one local relation — no Spark
        job, where the Spark read runs one schema-inference job per
        commit.  If any piece declines, the whole span is the Spark
        read.  The ingest commits' recorded row counts send an
        over-bound span to Spark before anything is read.
        """
        log = self.log(mode)
        upto = log.version() if to_version is None else to_version
        pieces = change_pieces(log, from_version, upto)
        tbl = self._changes_arrow(mode, pieces)
        if tbl is not None:
            return arrow_relation(self.spark, tbl)
        frames = []
        for v, dirs, derive, _ in pieces:
            if derive:
                df = self._read_dirs(mode, dirs).withColumn(
                    "_change_type",
                    F.when(F.col("version") > 1, F.lit("update_postimage"))
                    .otherwise(F.lit("insert")),
                )
            else:
                df = self.spark.read.parquet(*dirs)
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        return _union(frames)

    def _changes_arrow(self, mode: str, pieces: list):
        """``read_changes``'s union of ``pieces`` built on the driver, or
        None when the span holds more than ``MICRO_COMMIT_ROWS`` rows in
        all, any piece declines the driver read, or the pieces' types
        conflict.  The recorded counts decide first, without I/O; the
        pieces without one (change-data files) are read next, counted
        against what the others leave, and the counted pieces last,
        uncounted — so a span declines before any recorded piece is
        read."""
        left = MICRO_COMMIT_ROWS - sum(p[3] for p in pieces if p[3] is not None)
        if left < 0:
            return None
        tbls = {}
        for i in sorted(range(len(pieces)), key=lambda i: pieces[i][3] is not None):
            n = pieces[i][3]
            tbl = change_piece_arrow(
                self.data_path(mode), PARTITION_COLS[mode], pieces[i],
                bound=left if n is None else None,
            )
            if tbl is None:
                return None
            if n is None:
                left -= tbl.num_rows
            tbls[i] = tbl
        if not tbls:
            return None
        try:
            return pa.concat_tables(
                [tbls[i] for i in sorted(tbls)], promote_options="default"
            )
        except pa.ArrowException:
            return None

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
            live_rows = sum(state["meta"][d]["n"] for d in dirs)
            # a store that provably fits the micro bound is rewritten on
            # the driver: read, concat, sort, one file per partition
            # value (``write_micro``); a type conflict or a declined
            # write takes the Spark rewrite of the same dirs
            tbl = None
            if live_rows <= MICRO_COMMIT_ROWS:
                tbl = _read_dirs_arrow(self.data_path(mode), dirs, bound=None)
            delta = Delta(
                lambda: self._read_dirs(mode, dirs),
                live_rows if tbl is None else tbl.num_rows, tbl,
            )
            new_dir = self._write_batch_dir(delta, mode, state)
            # the compacted dir's meta is the fold of the old dirs'
            # recorded stats: bounds, row count and per-key stats with
            # no scan (a physical rewrite moves no statistic)
            grain = self._stats_grain(mode)
            new_meta = _meta_of(
                fold_stats(
                    self._dir_stats(mode, dirs, state["meta"]), grain,
                    sums=("rc", "nts"),
                ),
                S.TS_COL[mode],
            )
            payload = {
                "adds": [new_dir],
                "removes": list(dirs),
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
        stream keep folding exactly instead of silently diverging.  A
        restore that changes no row writes no CDC file, and the change
        feed reads nothing for it.
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
            base = cur if tgt is None else tgt
            cols = [] if base is None else base.columns

            def changes(a, b, kind):
                """Rows of ``a`` missing from ``b`` as ``kind`` changes;
                None for a snapshot with no live dir (every row deleted)."""
                if a is None:
                    return None
                rows = a.select(*cols)
                if b is not None:
                    rows = rows.exceptAll(b.select(*cols))
                return rows.withColumn("_change_type", F.lit(kind))

            live, back = set(state["dirs"]), set(target["dirs"])
            payload = {
                "adds": [d for d in target["dirs"] if d not in live],
                "removes": [d for d in state["dirs"] if d not in back],
                "meta": {d: target["meta"][d] for d in target["dirs"]},
            }
            n_del = n_ins = 0
            cdc = _union([
                c for c in (changes(cur, tgt, "delete"), changes(tgt, cur, "insert"))
                if c is not None
            ])
            if cdc is not None:
                # both kinds counted by the one checkpoint pass; an empty
                # change set (the snapshots hold the same rows) is no file
                obs = Observation()
                kind = F.col("_change_type")
                delta = materialize_micro(cdc.observe(
                    obs,
                    F.count_if(kind == "delete").alias("d"),
                    F.count_if(kind == "insert").alias("i"),
                ))
                n_del, n_ins = obs.get["d"], obs.get["i"]
                if delta.n:
                    payload["cdc"] = self._write_cdc(mode, state, delta)
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
        in a fresh batch dir and publishes in one atomic commit with its
        meta (data-skipping bounds and stats of the adopted rows).  The
        source tree is untouched; subsequent ``ingest_batch`` calls
        dedup/version against the adopted history exactly as if it had
        been ingested here, so the rows should carry the store's columns
        (``version`` and the mode's partition columns included).
        Refuses a non-empty target (the adopted snapshot must BE version
        1, or time travel would lie) — also when a racing writer commits
        first."""

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
        a self-contained CHECKPOINT (adds = full live dir list at H with
        their meta, removes = []) and the commits below it are deleted —
        ``ManifestLog.checkpoint``, each step crash-safe on its own.
        Batch/CDC dirs they referenced become unreferenced and age out
        via ``gc_orphans`` (which also gives in-flight readers its grace
        window).

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
            "meta": {d: st["meta"][d] for d in st["dirs"]},
            "op": "checkpoint",
            "ts": time.time(),
        })
        return {"checkpointed": horizon, "commits_dropped": dropped}

    def gc_orphans(self, mode: str, grace_s: float = 3600.0) -> list[str]:
        """Remove batch/cdc dirs referenced by NO retained commit
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
        ever_adds = set(state["dirs"])
        ever_cdc = set()
        for c in commits:
            ever_adds.update(c.get("adds", []))
            if c.get("cdc"):
                ever_cdc.add(c["cdc"].split(os.sep)[0])
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
            # CDC files referenced by a commit ARE the change feed's
            # history — keep them; only commit-race / crash debris
            # (written but never referenced) is collectable.
            if not n.startswith("cdc-") or n in ever_cdc or not os.path.isdir(p):
                continue
            if now - os.path.getmtime(p) < grace_s:
                continue  # maybe an in-flight writer's pre-commit output
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
        return removed
