"""The ingest contract's shared delta computation (S5, A1-A6).

Every store commit (``sources/commitlog.ManifestStore``) is the
Spark-first equivalent of the reference's entire Redis-buffer → writer →
SQLite path (``writer.py:259-353`` + ``sql_db.py:345-671``).  Normalize is
assumed done upstream (operators in ``transform``); this module holds the
steps every commit path shares:

1. P5  drop all-null-payload rows
2. A3  within-batch exact dedup (NULL-safe, whole payload)
3. A2  event-time partition routing columns (exchange-local Y/M/D)
4. A3  anti-join vs existing rows with identical (key, payload)
5. A4  version = prior max(version) per key + row_number within batch

in two implementations with one semantics: ``compute_versioned_delta``
plans them in Spark, for batches over the micro bound, and
``versioned_delta_arrow`` runs them in pyarrow on a batch already
collected to the driver — the path of every micro commit, where Spark's
planning and job launches, not the data, were the cost.  Plus the write
layout of the delta (``cluster_for_write``).  The append into a fresh
batch directory and its A5/A6 stats rows (in the dir's commit meta)
are the commit's, published together by one manifest commit.

Scale posture: the existing-store probe (steps 4-5) reads ONLY the
partitions the batch touches — partition values are collected from the
(small) batch and pushed as an IN filter, so Catalyst prunes everything
else.  The per-key max-version aggregate is computed on that pruned slice
and broadcast when small.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_ops_spark import schemas as S
from stock_ops_spark.operators.versioning import assign_versions
from stock_ops_spark.sources.layout import (
    PARTITION_COLS,
    arrow_partition_cols,
    partition_values_predicate,
    with_partition_cols,
)
from stock_ops_spark.sources.microcommit import plain_type

# A micro-batch touches a handful of partitions; an unbounded backfill can
# touch thousands.  Above this, the ingest dedup probe scans the store
# unpruned rather than collecting partition literals to the driver.
_MAX_PRUNE_PARTITIONS = 256


def compute_versioned_delta(
    batch: DataFrame,
    existing: DataFrame | None,
    mode: str,
    tz: str,
    touched: list | None = None,
) -> DataFrame:
    """Steps 1-5 of the ingest contract (P5/A2/A3/A4), shared by every
    commit path of the store (``sources/commitlog.py``): route
    partitions, align evolved schemas both ways, prune the
    existing-store probe to the touched partitions, dedup against it,
    and assign versions.  Returns the lazy delta — the caller decides
    how to materialize and commit it.

    ``touched``: optional precomputed partition-value tuples the batch
    hits (a caller that already ran an aggregate over the routed batch
    can fold the collect in and save one Spark job — r8).  ``[]`` means
    "known over-cap: skip pruning"; ``None`` means "compute here"."""
    keys = S.INDEX_COLS[mode]
    declared = set(S.SCHEMAS[mode].fieldNames())
    extra = [c for c in batch.columns if c not in declared]
    payload = S.payload_cols(mode) + extra
    parts = PARTITION_COLS[mode]

    routed = with_partition_cols(batch, mode, tz)
    # -0.0 is written as 0.0 whatever the plan: the dedup's grouping
    # normalizes it only while the optimizer keeps the Aggregate, which
    # it drops when the batch is a one-row local relation
    for f in routed.schema.fields:
        if f.name in payload and isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            routed = routed.withColumn(
                f.name, F.col(f.name) + F.lit(0.0).cast(f.dataType)
            )

    if existing is not None:
        # align schemas both ways: a batch may carry a brand-new column
        # (absent from every stored file) and the store may carry
        # columns this batch omits — NULL-fill so the null-safe payload
        # comparison and version probe see one union schema
        batch_cols = set(routed.columns)
        store_cols = set(existing.columns)
        # Store-only columns are NULL-filled for the append but stay OUT
        # of the dedup payload: the reference compares only the incoming
        # payload's own keys (sql_db.py:487-497), so a re-sent row that
        # matches a stored row on every column the producer knows about
        # is an exact duplicate even if the store has since evolved a
        # column the producer doesn't send (ADVICE r1).
        for c in sorted(store_cols - batch_cols - set(parts)):
            routed = routed.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
        for c in sorted(set(payload) - store_cols):
            existing = existing.withColumn(c, F.lit(None).cast(routed.schema[c].dataType))
    if existing is not None and parts:
        # prune the store probe to just the partitions this batch hits:
        # an OR-of-conjunctions over literal partition values reaches the
        # file listing as partition pruning (a batch touches few).
        # Guard: the collect is bounded by construction for a
        # micro-batch, but a historical backfill fed through this path
        # could touch thousands of partitions — cap the literal list;
        # past the cap, skip pruning (full probe beats an unbounded
        # driver collect + a many-thousand-term predicate).
        if touched is None:
            touched = [
                tuple(r)
                for r in routed.select(*parts)
                .distinct()
                .limit(_MAX_PRUNE_PARTITIONS + 1)
                .collect()
            ]
        if len(touched) > _MAX_PRUNE_PARTITIONS:
            touched = []
        pred = partition_values_predicate(parts, touched)
        if pred is not None:
            existing = existing.where(pred)

    return assign_versions(routed, existing, keys, payload)


def _group_ids(tbl) -> np.ndarray:
    """Per row of ``tbl``, a dense id shared by exactly the rows equal on
    every column, NULLs equal to NULLs.  Each column is dictionary-coded
    (NULL its own code) and the codes are paired column by column —
    not ``Table.group_by``, whose multi-column keys misgroup rows when
    a boolean key sits beside an all-NULL float key (pyarrow 16)."""
    ids = np.zeros(tbl.num_rows, np.int64)
    for col in tbl.columns:
        codes = pc.dictionary_encode(
            col.combine_chunks(), null_encoding="encode"
        ).indices.to_numpy(zero_copy_only=False)
        if len(codes):
            _, ids = np.unique(ids * (codes.max() + 1) + codes, return_inverse=True)
    return ids


def _eq_cols(tbl, cols: list[str]):
    """``cols`` of ``tbl`` re-encoded so ``_group_ids`` equality is
    Spark's NULL-safe grouping equality: a float column becomes (is-NaN
    flag, value with NaN zeroed), so NaN groups with NaN, and -0.0 —
    already normalized to 0.0 by ``_norm_floats`` — with 0.0."""
    out = {}
    for c in cols:
        a = tbl.column(c)
        if pa.types.is_floating(a.type):
            nan = pc.is_nan(a)
            out[c + "\x00nan"] = nan
            a = pc.if_else(nan, pa.scalar(0.0, a.type), a)
        out[c] = a
    return pa.table(out)


def _norm_floats(tbl, cols: list[str]):
    """-0.0 → 0.0 in the float columns among ``cols``: Spark's grouping
    keys and join keys normalize it, and the dedup writes the normalized
    value (``x + 0.0`` is +0.0 for both zeros, NaN and NULL unchanged)."""
    for c in cols:
        a = tbl.column(c)
        if pa.types.is_floating(a.type):
            i = tbl.column_names.index(c)
            tbl = tbl.set_column(
                i, tbl.field(i), pc.add(a, pa.scalar(0.0, a.type))
            )
    return tbl


def _sort_keys(tbl, cols: list[str]):
    """``cols`` as ascending ``sort_indices`` keys (NULLs first) that order
    rows as Spark orders the struct of ``cols``: NULL first, then
    values, then NaN — which Spark sorts above every number and pyarrow
    right after the NULLs."""
    out = {}
    for c in cols:
        a = tbl.column(c)
        if pa.types.is_floating(a.type):
            nan = pc.is_nan(a)
            # 0 NULL, 1 number, 2 NaN; the value breaks ties among numbers
            out[c + "\x00rank"] = pc.fill_null(
                pc.if_else(nan, 2, 1).cast(pa.int8()), 0
            )
            a = pc.if_else(nan, pa.scalar(None, a.type), a)
        out[c] = a
    return pa.table(out)


def _max_version(kid, n_keys: int, v, rows):
    """The max of the versions ``v`` (numpy, NaN for NULL) per key id
    ``kid`` (ids below ``n_keys``) over the rows of the mask ``rows``,
    NULL versions skipped; the int64 minimum for a key with none.  A4's
    prior max in ``versioned_delta_arrow`` and O5's pick in
    ``latest_version_arrow``."""
    ok = rows & ~np.isnan(v.astype(float))
    out = np.full(n_keys, np.iinfo(np.int64).min)
    np.maximum.at(out, kid[ok], v[ok].astype(np.int64))
    return out


def latest_version_arrow(tbl, keys: list[str]):
    """``operators.versioning.latest_version_view`` on the driver, for
    rows already held as the Arrow table ``tbl``: per key — NULL keys
    equal, as the window partitions them — the row with the max
    ``version``, the first in ``tbl``'s order among ties, and the picked
    rows in ``tbl``'s order.  None — the caller takes the Spark path —
    when a ``version`` is NULL (the window's descending order puts those
    last)."""
    if tbl.column("version").null_count:
        return None
    if not tbl.num_rows:
        return tbl
    kid = _group_ids(_eq_cols(tbl, keys))
    v = tbl.column("version").to_numpy(zero_copy_only=False)
    top = _max_version(kid, kid.max() + 1, v, np.ones(tbl.num_rows, bool))
    cand = np.flatnonzero(v == top[kid])
    _, first = np.unique(kid[cand], return_index=True)
    return tbl.take(np.sort(cand[first]))


def versioned_delta_arrow(
    tbl,
    prior,
    mode: str,
    tz: str,
    session_tz: str = "UTC",
):
    """``compute_versioned_delta`` on the driver, for a batch already
    collected as the Arrow table ``tbl`` and the overlapping store rows
    ``prior`` (an Arrow table, or None for a pure append).  Steps 1-5
    run in pyarrow and numpy with Spark's observed semantics:

    - P5: a row is dropped when every payload column is NULL or NaN
      (``na.drop`` counts NaN as NULL);
    - A3 within the batch: NULL keys and NULL fields are equal, NaN
      equals NaN, -0.0 equals 0.0 and is written as 0.0;
    - A2: ``arrow_partition_cols``;
    - A3 against ``prior``: the payload matches NULL-safely, but the
      index keys are an equi-join — a row with a NULL key never
      matches a stored row and is appended again;
    - A4: prior max version per key (NULL keys have none) plus a
      ``row_number`` per key, NULL keys forming one window partition,
      ordered by the payload struct (sorted field names; NULL first,
      NaN last).

    Columns come out in Spark's order and types: the batch's, then the
    partition columns, then ``version``; against ``prior`` the index
    keys lead, and store-only columns (NULL-filled, ``version`` among
    them in sorted place) follow the partition columns.

    Returns None — the caller takes the Spark path — when the inputs
    fall outside what this reproduces exactly: a missing declared
    column, a batch already carrying partition or ``version`` columns,
    a column type outside ``plain_type``, a type that differs between
    batch and store, or an epoch Spark cannot hold."""
    keys = S.INDEX_COLS[mode]
    declared = S.SCHEMAS[mode].fieldNames()
    parts = PARTITION_COLS[mode]
    cols = tbl.column_names
    if (
        set(declared) - set(cols)
        or set(cols) & {*parts, "version"}
        or not all(plain_type(t) for t in tbl.schema.types)
        or prior is not None
        and not all(plain_type(t) for t in prior.schema.types)
    ):
        return None
    extra = [c for c in cols if c not in declared]
    payload = S.payload_cols(mode) + extra
    try:
        routed = arrow_partition_cols(tbl, mode, tz, session_tz)
    except pa.ArrowException:
        return None

    if prior is not None:
        batch_cols = set(routed.column_names)
        for c in sorted(set(prior.column_names) - batch_cols - set(parts)):
            routed = routed.append_column(
                prior.schema.field(c).with_nullable(True),
                pa.nulls(routed.num_rows, prior.schema.field(c).type),
            )
        for c in keys + payload:
            if c not in prior.column_names:
                prior = prior.append_column(
                    c, pa.nulls(prior.num_rows, routed.schema.field(c).type)
                )
            t, u = routed.schema.field(c).type, prior.schema.field(c).type
            if t == u:
                continue
            if {t, u} <= {pa.string(), pa.large_string()}:
                prior = prior.set_column(
                    prior.column_names.index(c), c, prior.column(c).cast(t)
                )
            else:
                return None

    # P5, then A3 within the batch
    allnull = np.ones(routed.num_rows, bool)
    for c in payload:
        allnull &= pc.is_null(routed.column(c), nan_is_null=True).to_numpy(
            zero_copy_only=False
        )
    routed = _norm_floats(routed.filter(pa.array(~allnull)), payload)
    _, first = np.unique(
        _group_ids(_eq_cols(routed, keys + payload)), return_index=True
    )
    routed = routed.take(np.sort(first))
    n = routed.num_rows

    # one key id space over batch and store: NULL-equal, as the window
    # partitions; a row with any NULL key joins nothing in the store
    maxv = np.zeros(n, np.int64)
    if prior is not None and prior.num_rows and n:
        prior = _norm_floats(prior, payload)
        both = pa.concat_tables([_eq_cols(routed, keys), _eq_cols(prior, keys)])
        kid = _group_ids(both)
        pid = _group_ids(pa.concat_tables([
            _eq_cols(routed, payload), _eq_cols(prior, payload)
        ]))
        joins = np.ones(len(kid), bool)
        for c in keys:
            joins &= both.column(c).is_valid().to_numpy(zero_copy_only=False)
        kp = kid * (pid.max() + 1) + pid
        stored = kp[n:][joins[n:]]
        keep = ~(joins[:n] & np.isin(kp[:n], stored))
        pv = prior.column("version").to_numpy(zero_copy_only=False)
        per_key = _max_version(kid[n:], kid.max() + 1, pv, joins[n:])
        maxv = np.where(joins[:n], np.maximum(per_key[kid[:n]], 0), 0)[keep]
        routed = routed.filter(pa.array(keep))
        n = routed.num_rows

    # A4: row_number per key, ordered by the payload struct
    order = _sort_keys(routed, sorted(payload))
    win = _group_ids(_eq_cols(routed, keys))
    order = order.append_column("\x00key", pa.array(win))
    idx = pc.sort_indices(
        order,
        sort_keys=[("\x00key", "ascending")]
        + [(c, "ascending") for c in order.column_names[:-1]],
        null_placement="at_start",
    ).to_numpy()
    run = win[idx]
    start = np.r_[True, run[1:] != run[:-1]] if n else np.zeros(0, bool)
    pos = np.arange(n)
    rn = np.empty(n, np.int64)
    rn[idx] = pos - np.maximum.accumulate(np.where(start, pos, 0)) + 1
    version = pa.array(maxv + rn, pa.int32())
    vfield = pa.field("version", pa.int32(), nullable=False)
    if "version" in routed.column_names:
        routed = routed.set_column(
            routed.column_names.index("version"), vfield, version
        )
    else:
        routed = routed.append_column(vfield, version)
    if prior is not None:
        routed = routed.select(
            keys + [c for c in routed.column_names if c not in keys]
        )
    return routed


#: Write-layout bound (r12, guide §6): a delta KNOWN to be at most this
#: many rows is hash-repartitioned onto its dynamic-partition columns
#: before the write, so each (year[, month[, day]]) value is written by
#: exactly ONE task — one file per partition value, the minimum the
#: Hive layout permits, and the fewest create/rename metadata ops on
#: the committer path (the e2e replay floor is disk-metadata-bound).
#: Above the bound — or when the caller cannot know the size without an
#: extra job — the spread layout stays: one task per partition value
#: would serialize a large backfill's write into few tasks and can skew
#: (guide §2.5); at ~100 B/tick row the bound keeps the worst single
#: file ≈ 512 MB, inside the 128 MB–1 GB target band of guide §6.
SMALL_WRITE_ROWS = 5_000_000


def cluster_for_write(
    versioned: DataFrame,
    mode: str,
    n_rows: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Cluster rows within each partition file by (ticker, ts): parquet
    row-group min/max stats then prune per-ticker range reads without
    ticker being a partition column (the Z-ORDER stand-in from SURVEY
    §7.3.7).  Paired everywhere with zstd compression (~2x smaller than
    snappy on tick data for ~equal scan speed — at 100 TB the scan is
    IO-bound and this is pure win).

    r12 (§6): the within-task sort is prefixed with the mode's partition
    columns.  Spark's V1 write path REQUIRES task rows ordered by the
    dynamic-partition columns and inserts its own Sort when the child's
    ordering does not satisfy that — so the old (ticker, ts)-only sort
    was re-sorted by (year[, month[, day]]) inside the writer, paying
    twice AND losing the promised (ticker, ts) clustering inside each
    file.  With the partition prefix the writer's requirement is
    satisfied by our sort and each file really is (ticker, ts)-runs.
    ``n_rows``: when the caller already knows the delta's size (the
    ingest paths collect it pre-write), small deltas are additionally
    repartitioned onto the partition columns — one file in all for an
    unpartitioned mode, so compacting one folds it to a single file —
    see SMALL_WRITE_ROWS.
    ``n_parts``: the delta's distinct partition-tuple count when the
    caller already collected it (the ingest stats job does).  Passing
    it pins the repartition width EXPLICITLY, which matters on the
    micro-commit path: a keyless ``repartition(parts)`` of a tiny delta
    is AQE-coalesced to ONE task, and that task then creates every
    dynamic-partition file SEQUENTIALLY — measured 0.8-0.9 s for a
    31-file commit on this box's `discard`-mounted ext4, the single
    largest slice of the e2e replay commit floor (r12 job trace,
    plans/r12/q306_jobtrace_before.txt).  With ``repartition(n_parts,
    parts)`` each partition value is one task and the file creates run
    in parallel."""
    parts = PARTITION_COLS[mode]
    out = versioned
    if n_rows is not None and 0 < n_rows <= SMALL_WRITE_ROWS:
        if not parts:
            out = out.repartition(1)  # unpartitioned: the one "value"
        elif n_parts:
            out = out.repartition(n_parts, *[F.col(c) for c in parts])
        else:
            out = out.repartition(*parts)
    return out.sortWithinPartitions(*parts, "ticker", S.TS_COL[mode])
