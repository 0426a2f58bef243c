"""Commit deltas on the driver, and the one driver-side kernel per statistic.

The per-commit floor is Spark FIXED cost, not data volume: planning a
versioned delta costs hundreds of py4j round trips, and every job adds
a launch.  Measured at ``local[2]`` on 500-row streamed commits (p50
per trigger, 4-core box), the delta planned and checkpointed in Spark
cost ~0.7 s and 5-6 jobs per micro-batch; collecting the raw batch once
(``collect_micro``) and running dedup, versioning, the overlap read,
the write and the dir's stats in pyarrow costs that one job —
~0.29 s per trigger, of which the store's part is ~0.09 s and the rest
is Structured Streaming's own offset and commit logs.  For a batch
PROVEN small, the cheapest correct execution is: pull its rows to the
driver as one Arrow table once, and derive everything downstream — the
versioned delta (``ingest.versioned_delta_arrow``), the grouped stat
rows, the partitioned batch-dir files and the dir's commit meta —
in-process.

Every commit path holds its delta as one ``Delta`` value: its rows as a
DataFrame (built on demand for a delta computed on the driver), its row
count, and — only when the count proved it micro — the same rows as an
Arrow table.  ``Delta`` is the single place that chooses between the
two implementations of each operation, from whether ``tbl`` is set:

- stat rows: ``grouped_stats`` (pyarrow ``group_by``) or ``_stat_rows``
  (Spark ``groupBy().agg()``), both returning the same Arrow columns;
- files: ``write_micro``, or ``ingest.cluster_for_write`` and the Spark
  writer.

Boundedness is proven, not assumed: ``collect_micro`` collects through
a ``limit(bound+1)`` and DECLINES (returns None) when the extra row
shows up — or without running when the frame's plan already bounds it
above the bound — and ``materialize_micro`` (the Spark path's
checkpoint) only collects when its observed count is within the bound,
so an unbounded backfill never lands on the driver — it keeps the
distributed checkpoint/write path, where its cost is real work.

Write-path crash model (matches the Spark committer it replaces): batch
dirs are INVISIBLE until the manifest commit publishes them, so files are
written straight into the fresh batch dir; a crash strands unreferenced
debris, exactly like v2-committer partials.

File compatibility: zstd parquet, one file per partition value, rows
sorted by (partition cols, ticker, ts) — the exact layout
``cluster_for_write`` produces — with plain int partition-directory names
(``year=2024``); value domains outside what Spark's writer would encode
identically (nested/decimal columns, non-int or NULL partition values)
decline to the Spark path.
"""

from __future__ import annotations

import os
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_ops_spark.operators.stats import fold_stats
from stock_ops_spark.schemas import TS_COL
from stock_ops_spark.sources.layout import PARTITION_COLS

if TYPE_CHECKING:
    import pyarrow as pa

#: Proven-size bound for pulling a delta to the driver: 128k rows of
#: ~100 B tick data ≈ 13 MB — far under driver collect budgets, far over
#: every micro-batch in the replay class (~2-8k rows).  Above it the
#: distributed path's fixed costs are amortized by real work.
MICRO_COMMIT_ROWS = 131_072

#: Partition-value cap for the driver-side write: up to this many files
#: a 16-wide thread pool beats a Spark write job's fixed cost; past it
#: the one-task-per-value distributed layout wins on this disk.
MICRO_WRITE_MAX_FILES = 128


def _max_rows(df: DataFrame) -> int | None:
    """Catalyst's static row bound of the frame's analyzed plan — a
    local relation's length, carried through projections and filters —
    or None when the plan has none (a file scan, a streaming batch)."""
    try:
        bound = df._jdf.queryExecution().analyzed().maxRows()
        return None if bound.isEmpty() else int(bound.get())
    except Exception:  # no JVM plan to ask (e.g. Spark Connect)
        return None


def collect_micro(df: DataFrame, bound: int = MICRO_COMMIT_ROWS):
    """The frame as one Arrow table iff it provably fits ``bound`` rows,
    else None.  The ``limit(bound+1)`` sentinel makes truncation visible:
    a table that comes back with the extra row is incomplete and unusable,
    so the caller falls back to the distributed path.  The probe is one
    job over the frame's source; a truncated probe's work is discarded,
    so a frame whose plan already bounds it above ``bound`` rows — a
    local relation of a large fetch — declines without running it.
    Such a frame may still filter down to fewer rows; it then takes
    the distributed path, which is slower for it but equally correct."""
    cap = _max_rows(df)
    if cap is not None and cap > bound:
        return None
    try:
        tbl = df.limit(bound + 1).toArrow()
    except Exception:  # unsupported type/conversion: not this path's job
        return None
    if tbl.num_rows > bound:
        return None
    return tbl


def materialize_micro(df: DataFrame, bound: int = MICRO_COMMIT_ROWS) -> "Delta":
    """The ``Delta`` of a frame of UNKNOWN size: one eager
    localCheckpoint whose row count rides along as an Observation (no
    count job), then — only when the count proves the frame micro — one
    cheap Arrow collect *from the checkpointed blocks*.  The frame is
    never computed twice (the r12.1 lesson: a direct ``limit`` probe
    re-ran just-over-bound sf1 deltas in full before falling back), and
    the DataFrame keeps the checkpoint's parallel partitioning so
    downstream distributed consumers (overlap re-dedup, rewrites) do not
    collapse onto a single-partition local relation."""
    from pyspark.sql import Observation

    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n = int(obs.get["n"] or 0)
    tbl = None
    if 0 < n <= bound:
        try:
            tbl = ck.toArrow()
        except Exception:
            tbl = None
        if tbl is not None and tbl.num_rows != n:
            tbl = None  # should not happen; never trust a mismatch
    return Delta(ck, n, tbl)


def grouped_stats(tbl, keys, ts_col: str, parts=(), part_cap=None):
    """Per ``keys`` group of a collected delta: ``rc`` (rows), ``nts``
    (non-NULL ts), ``lo``/``hi`` (min/max ts, NULLs ignored) and — when
    ``parts`` is given — ``tp``, the distinct partition tuples as a list
    of structs capped at ``part_cap + 1`` (one over the cap is enough to
    signal "over cap").  Two pyarrow ``group_by`` passes: the first over
    ``keys + parts`` yields one row per distinct (key, partition tuple),
    the second folds those per key and lists their partition values.
    NULL keys and NULL partition values form their own groups, as in
    Spark's ``groupBy``; the columns are those of ``_stat_rows``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys, parts = list(keys), list(parts)
    fine = tbl.group_by(keys + parts, use_threads=False).aggregate(
        [([], "count_all"), (ts_col, "count"), (ts_col, "min"), (ts_col, "max")]
    )
    names = {"count_all": "rc", f"{ts_col}_count": "nts",
             f"{ts_col}_min": "lo", f"{ts_col}_max": "hi"}
    fine = fine.rename_columns([names.get(c, c) for c in fine.column_names])
    out = fold_stats(fine, keys, sums=("rc", "nts"), lists=parts)
    if not parts:
        return out
    lists = [out[p].combine_chunks() for p in parts]
    tp = pa.ListArray.from_arrays(
        lists[0].offsets,
        pa.StructArray.from_arrays([pc.list_flatten(a) for a in lists], names=parts),
    )
    if part_cap is not None:
        tp = pc.list_slice(tp, 0, part_cap + 1)
    return out.drop_columns(parts).append_column("tp", tp)


def _stat_rows(df: DataFrame, keys, ts_col: str, parts=(), part_cap=None):
    """The Spark implementation of ``grouped_stats`` (same columns, as
    Arrow): ONE grouped aggregate job.  It is small by contract — the
    keys one batch touches — so it serves the emptiness gate, the
    data-skipping bounds, the dir's stats rows and the touched-partition
    literals at once."""
    aggs = [
        F.count(F.lit(1)).alias("rc"),
        F.count(ts_col).alias("nts"),
        F.min(ts_col).alias("lo"),
        F.max(ts_col).alias("hi"),
    ]
    if parts:
        tp = F.collect_set(F.struct(*parts))
        if part_cap is not None:
            tp = F.slice(tp, 1, part_cap + 1)
        aggs.append(tp.alias("tp"))
    return df.groupBy(*keys).agg(*aggs).toArrow()


def as_catalog_stats(st, keys, mode: str):
    """Stat rows (``keys`` + rc/lo/hi) in the stats-catalog schema of
    ``operators.stats.batch_stats``: string keys, int64 ``row_count``,
    and ``min_ts``/``max_ts`` as int64 epochs — or, interday, the ISO
    date string, which is Spark's CAST(date AS STRING)."""
    import pyarrow as pa

    ts = pa.string() if mode == "historical_interday" else pa.int64()
    return pa.table(
        [st[k].cast(pa.string()) for k in keys]
        + [st["rc"].cast(pa.int64()), st["lo"].cast(ts), st["hi"].cast(ts)],
        names=[*keys, "row_count", "min_ts", "max_ts"],
    )


class Delta:
    """A commit's delta: its rows as a Spark frame ``df``, its row count
    ``n`` (None when unknown) and — when the count proved it micro — the
    same rows as the Arrow table ``tbl``.  Each method below runs the
    driver-side implementation when ``tbl`` is set and the Spark one
    otherwise; the results are the same either way.

    ``df`` may be given as a zero-argument callable: the frame is then
    built on first use only.  A delta computed on the driver passes
    ``localrel.arrow_relation`` of its table (one LocalTableScan), so a
    commit that never needs a frame — no declined ``write_micro`` —
    builds none.  Unpacks like a tuple:
    ``df, n, tbl = materialize_micro(...)``."""

    __slots__ = ("_df", "n", "tbl")

    def __init__(self, df, n: int | None, tbl: pa.Table | None = None):
        self._df, self.n, self.tbl = df, n, tbl

    @property
    def df(self) -> DataFrame:
        if callable(self._df):
            self._df = self._df()
        return self._df

    def __iter__(self):
        return iter((self.df, self.n, self.tbl))

    def __getitem__(self, i):
        return tuple(self)[i]

    def stat_rows(self, keys, ts_col: str, parts=(), part_cap=None):
        """Per-key rc/nts/lo/hi[/tp] (see ``grouped_stats``), as Arrow."""
        if self.tbl is not None:
            return grouped_stats(self.tbl, keys, ts_col, parts, part_cap)
        return _stat_rows(self.df, keys, ts_col, parts, part_cap)

    def write(
        self, dest: str, mode: str | None = None, n_parts: int | None = None
    ) -> None:
        """Write the delta under the fresh directory ``dest``, partitioned
        and clustered for ``mode`` (None: unpartitioned and unsorted —
        change-feed files).  Driver-side through ``write_micro`` when the
        rows are here and their domains are covered; otherwise the Spark
        writer over ``cluster_for_write``."""
        from stock_ops_spark.sources.ingest import cluster_for_write

        parts = PARTITION_COLS[mode] if mode else []
        order = ["ticker", TS_COL[mode]] if mode else []
        if self.tbl is not None and write_micro(self.tbl, parts, order, dest):
            return
        df = self.df
        if mode:
            df = cluster_for_write(df, mode, n_rows=self.n, n_parts=n_parts)
        writer = df.write.option("compression", "zstd")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(dest)


def plain_type(t) -> bool:
    """Integer, floating, boolean, string, binary or date: the value
    domains a commit runs on the driver end to end — the delta kernel
    over the collected batch, and the dir reader — exactly as Spark
    would.  A batch with a nested, decimal or timestamp column runs the
    same kernel per key bucket in Spark (``ingest.versioned_delta_spark``)."""
    import pyarrow as pa

    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_date(t)
    )


def _writable_types(tbl, parts: list[str]) -> bool:
    import pyarrow as pa

    for f in tbl.schema:
        t = f.type
        if f.name in parts:
            if not pa.types.is_integer(t):
                return False
            continue
        if not (plain_type(t) or pa.types.is_timestamp(t)):
            return False
    return True


def write_micro(
    tbl,
    parts: list[str],
    order_cols: list[str],
    dest: str,
) -> bool:
    """Write a collected delta as partitioned zstd parquet, driver-side.
    Returns False (writing NOTHING) when any value domain falls outside
    what this path encodes identically to Spark's writer — the caller
    then uses the Spark write."""
    import pyarrow.parquet as pq

    if tbl.num_rows == 0 or not _writable_types(tbl, parts):
        return False
    for c in parts:
        if c not in tbl.column_names or tbl.column(c).null_count:
            return False
    sort_keys = [
        (c, "ascending")
        for c in list(parts) + [c for c in order_cols if c not in parts]
        if c in tbl.column_names
    ]
    if sort_keys:
        try:
            tbl = tbl.sort_by(sort_keys)
        except Exception:
            return False

    def _write_one(sub, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        name = f"part-00000-{uuid.uuid4().hex}.zstd.parquet"
        pq.write_table(sub, os.path.join(d, name), compression="zstd")

    if not parts:
        _write_one(tbl, dest)
        return True
    # rows are sorted by the partition columns, so each distinct tuple
    # is one contiguous run, and single-threaded group_by lists the
    # tuples in that order with their run lengths
    runs = tbl.group_by(list(parts), use_threads=False).aggregate(
        [([], "count_all")]
    )
    keys = list(zip(*(runs[c].to_pylist() for c in parts)))
    starts = [0]
    for size in runs["count_all"].to_pylist():
        starts.append(starts[-1] + size)
    data_tbl = tbl.drop_columns(list(parts))
    if len(keys) > MICRO_WRITE_MAX_FILES:
        # a wide-span commit (hundreds of partition values): the Spark
        # writer's one-task-per-value layout beats driver-side creates
        # even threaded — decline before touching the destination
        return False
    jobs = [
        (
            data_tbl.slice(starts[j], starts[j + 1] - starts[j]),
            os.path.join(dest, *[f"{c}={v}" for c, v in zip(parts, key)]),
        )
        for j, key in enumerate(keys)
    ]
    if len(jobs) <= 8:
        for sub, d in jobs:
            _write_one(sub, d)
        return True
    # Many partition values (a wide-span commit): file creates stall on
    # the disk, not the CPU (`discard`-mounted ext4), and pyarrow
    # releases the GIL during write — a small thread pool recovers the
    # parallelism the Spark writer's one-task-per-value layout had.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as pool:
        list(pool.map(lambda sd: _write_one(*sd), jobs))
    return True
