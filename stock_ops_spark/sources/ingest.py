"""The ingest contract's one delta kernel (S5, A1-A6).

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

in one implementation, ``versioned_delta_arrow``, over Arrow tables.  A
batch already collected to the driver — every micro commit, where
Spark's planning and job launches, not the data, were the cost — runs
it there; any other batch runs it inside Spark
(``versioned_delta_spark``), once per bucket of a hash of the index
keys, so each key meets all of its batch and store rows in one call.
Plus the write layout of the delta (``cluster_for_write``).  The append
into a fresh batch directory and its A5/A6 stats rows (in the dir's
commit meta) are the commit's, published together by one manifest
commit.

Scale posture: the store rows a delta is computed against are only the
live dirs whose recorded (ticker, ts) bounds meet the batch's, pruned
to the partitions the batch touches — both read from the delta's
grouped stats, with no Spark job (``ManifestStore.ingest_batch``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_ops_spark import schemas as S
from stock_ops_spark.sources.layout import PARTITION_COLS, arrow_partition_cols
from stock_ops_spark.sources.microcommit import plain_type

# A micro-batch touches a handful of partitions; an unbounded backfill can
# touch thousands.  Above this, the ingest dedup probe reads the store
# rows unpruned rather than filtering them on a many-thousand-term
# predicate of partition literals.
_MAX_PRUNE_PARTITIONS = 256


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


def _order_key(v):
    """A Python sort key that orders values as Spark does: NULL first,
    NaN above every number, -0.0 equal to 0.0, structs and arrays
    element by element (a shorter array first among equal prefixes)."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return (1, tuple(_order_key(x) for x in v))
    return (1, v)


def _ranked(a) -> pa.Array:
    """The values of ``a`` as dense int64 ranks in Spark's order
    (``_order_key``), NULL kept: equal values share a rank, so the ranks
    stand in for a type the Arrow kernels cannot group or sort exactly
    as Spark does (decimal, timestamp, nested)."""
    ks = [None if v is None else _order_key(v) for v in a.to_pylist()]
    rank = {k: i for i, k in enumerate(sorted(set(ks) - {None}))}
    return pa.array([None if k is None else rank[k] for k in ks], pa.int64())


def _cmp(tbl, c: str):
    """Column ``c`` of ``tbl`` as the kernel compares it: its ``_ranked``
    stand-in when it has one."""
    r = c + "\x00rank"
    return tbl.column(r if r in tbl.column_names else c)


def _eq_cols(tbl, cols: list[str]):
    """``cols`` of ``tbl`` re-encoded so ``_group_ids`` equality is
    Spark's NULL-safe grouping equality: a float column becomes (is-NaN
    flag, value with NaN zeroed), so NaN groups with NaN, and -0.0 —
    already normalized to 0.0 by ``_norm_floats`` — with 0.0."""
    out = {}
    for c in cols:
        a = _cmp(tbl, c)
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
        a = _cmp(tbl, c)
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
    """Steps 1-5 of the ingest contract for the batch ``tbl`` (an Arrow
    table) against the overlapping store rows ``prior`` (an Arrow table,
    or None for a pure append), in pyarrow and numpy with Spark's
    semantics:

    - P5: a row is dropped when every payload column is NULL or NaN
      (``na.drop`` counts NaN as NULL);
    - A3 within the batch: NULL keys and NULL fields are equal, NaN
      equals NaN, -0.0 equals 0.0 and is written as 0.0;
    - A2: ``arrow_partition_cols``; partition columns the batch carries
      are replaced, and are not payload;
    - A3 against ``prior``: the payload matches NULL-safely, but the
      index keys are an equi-join — a row with a NULL key never
      matches a stored row and is appended again;
    - A4: prior max version per key (NULL keys have none) plus a
      ``row_number`` per key, NULL keys forming one window partition,
      ordered by the payload struct (sorted field names; NULL first,
      NaN last).  A ``version`` the batch carries is payload, then
      replaced.

    A column outside ``plain_type`` is compared through its ``_ranked``
    stand-in.  Columns come out in the batch's order and types, then the
    partition columns, then ``version``; against ``prior`` the index
    keys lead, and store-only columns (NULL-filled, ``version`` among
    them in sorted place) follow the partition columns.

    Returns None when the batch lacks a declared column, a type differs
    between batch and store (``versioned_delta_spark`` casts both sides
    to Spark's common type first), or an epoch is one Spark cannot
    hold."""
    keys = S.INDEX_COLS[mode]
    declared = S.SCHEMAS[mode].fieldNames()
    parts = PARTITION_COLS[mode]
    if set(declared) - set(tbl.column_names):
        return None
    tbl = tbl.drop_columns([c for c in parts if c in tbl.column_names])
    payload = S.payload_cols(mode) + [
        c for c in tbl.column_names if c not in declared
    ]
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
    for c in keys + payload:
        if plain_type(routed.schema.field(c).type):
            continue
        n = routed.num_rows
        both = [routed.column(c)] + ([] if prior is None else [prior.column(c)])
        r = _ranked(pa.chunked_array(
            [k for a in both for k in a.chunks], both[0].type
        ))
        routed = routed.append_column(c + "\x00rank", r[:n])
        if prior is not None:
            prior = prior.append_column(c + "\x00rank", r[n:])

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
    cols = [c for c in routed.column_names if not c.endswith("\x00rank")]
    if prior is not None:
        cols = keys + [c for c in cols if c not in keys]
    return routed.select(cols)


def versioned_delta_spark(
    batch: DataFrame, existing: DataFrame | None, mode: str, tz: str
) -> DataFrame:
    """``versioned_delta_arrow`` over frames of any size: the rows of
    ``batch`` and of the store rows ``existing`` (None for a pure
    append) are grouped by ``pmod(xxhash64(index keys), n)``, ``n`` the
    session's ``spark.sql.shuffle.partitions``, and the kernel runs once
    per group in a Python worker.  Equal keys hash alike, NULLs
    included, so each key meets all of its rows in one call and the
    per-key dedup and versioning are exact.

    A column whose type differs between the two sides is compared as
    Spark compares it — both sides cast to their common type — and
    comes back in the batch's type.  Raises ``AnalysisException`` for a
    missing declared column; an epoch Spark cannot hold raises in the
    worker."""
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    from stock_ops_spark.shipping import ensure_package_on_executors

    spark = batch.sparkSession
    batch.select(*S.SCHEMAS[mode].fieldNames())  # analysis names a missing one
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    back = {}
    if existing is not None:
        shared = set(batch.columns) & set(existing.columns)
        for c in sorted(shared - set(PARTITION_COLS[mode])):
            t, u = batch.schema[c].dataType, existing.schema[c].dataType
            if t == u:
                continue
            common = spark.range(0).select(
                F.coalesce(F.lit(None).cast(t), F.lit(None).cast(u))
            ).schema[0].dataType
            batch = batch.withColumn(c, F.col(c).cast(common))
            existing = existing.withColumn(c, F.col(c).cast(common))
            if c != "version":
                back[c] = t

    def empty(df):
        return None if df is None else to_arrow_schema(df.schema).empty_table()

    out_schema = versioned_delta_arrow(
        empty(batch), empty(existing), mode, tz, session_tz
    ).schema

    def kernel(tbl, prior):
        out = versioned_delta_arrow(tbl, prior, mode, tz, session_tz)
        if out is None:  # the casts above leave only the epoch range
            raise ValueError(f"an epoch of {mode} is outside Spark's timestamp range")
        return out.cast(out_schema)

    ensure_package_on_executors(spark)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.pmod(F.xxhash64(*S.INDEX_COLS[mode]), F.lit(n))
    schema = from_arrow_schema(out_schema)
    if existing is None:
        out = batch.groupBy(bucket).applyInArrow(lambda t: kernel(t, None), schema)
    else:
        out = batch.groupBy(bucket).cogroup(existing.groupBy(bucket)).applyInArrow(
            kernel, schema
        )
    for c, t in back.items():
        out = out.withColumn(c, F.col(c).cast(t))
    return out


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
