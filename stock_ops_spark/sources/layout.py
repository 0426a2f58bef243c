"""Storage layout: Hive-partitioned Parquet replacing the reference's
date-named SQLite files.

Reference layout (``src/stockops/data/utils.py:47-76``): one ``.db`` file
per (data_type, provider, exchange[, year[, month[, day]]]) with one table
per ticker.  Here the same routing becomes partition *columns*, and ticker
becomes a plain (clustered) column — NOT a partition — because at 100 TB a
10k-ticker × date partition matrix explodes the file count; per-ticker
pruning instead comes from parquet min/max column stats after sorting
within partitions (SURVEY §7.3.7).

Partition grain per mode (mirrors get_db_filename_for_date):
- historical_interday → (none)            [single dataset]
- historical_intraday → year, month       [of event time in exchange tz]
- streaming           → year, month, day
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_ops_spark.schemas import TS_COL

PARTITION_COLS = {
    "historical_interday": [],
    "historical_intraday": ["year", "month"],
    "streaming": ["year", "month", "day"],
}

MODES = tuple(PARTITION_COLS)


def mode_root(root: str, mode: str, provider: str, exchange: str) -> str:
    """Dataset root for one (mode, provider, exchange)."""
    return os.path.join(root, f"mode={mode}", f"provider={provider}", f"exchange={exchange}")


#: epoch unit of the routed time column per partitioned mode
_EPOCH_UNIT = {"historical_intraday": "s", "streaming": "ms"}


def arrow_partition_cols(tbl, mode: str, tz: str, session_tz: str = "UTC"):
    """A2 event-time partition routing of an Arrow table: the partition
    columns (year[, month[, day]]) of the event timestamp in
    exchange-local time, so late rows land in their correct historical
    partition (never watermark-dropped).  By Spark's rule: the
    epoch is read as a UTC instant and rendered as wall time in ``tz``
    (``from_utc_timestamp``); ``year``/``month``/``day`` of that value
    are then taken in the session time zone, so a non-UTC session sees
    the same shifted parts Spark computes.  A UTC instant has exactly
    one wall time in any zone, so DST edges need no special case.
    Raises ``pyarrow.ArrowInvalid`` for an epoch Spark's microsecond
    timestamps cannot hold."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = PARTITION_COLS[mode]
    if not parts:
        return tbl
    unit = _EPOCH_UNIT[mode]
    epoch = tbl.column(TS_COL[mode]).cast(pa.int64())
    lo, hi = pc.min_max(epoch).values()
    limit = 2**63 // (1_000_000 if unit == "s" else 1_000)
    if lo.is_valid and (lo.as_py() <= -limit or hi.as_py() >= limit):
        raise pa.ArrowInvalid("epoch outside Spark's timestamp range")
    wall = pc.local_timestamp(epoch.cast(pa.timestamp(unit, tz)))
    if session_tz != "UTC":
        wall = pc.local_timestamp(
            wall.cast(pa.int64()).cast(pa.timestamp(unit, session_tz))
        )
    fns = {"year": pc.year, "month": pc.month, "day": pc.day}
    out = tbl
    for c in parts:
        out = out.append_column(c, fns[c](wall).cast(pa.int32()))
    return out


def partition_values_predicate(parts: list[str], tuples, col=F.col):
    """OR-of-conjunctions over literal partition tuples — reaches the file
    listing as static partition pruning.  Shared by the ingest dedup
    probe and maintenance compaction; ``col=pyarrow.dataset.field``
    builds the same predicate as the filter of the driver-side dir
    read.  Returns None for an empty list."""
    pred = None
    for t in tuples:
        conj = None
        for c, v in zip(parts, t):
            term = col(c) == v
            conj = term if conj is None else (conj & term)
        pred = conj if pred is None else (pred | conj)
    return pred


def partition_range_predicate(parts: list[str], lo, hi, col=F.col):
    """``lo <= (parts) <= hi``, partition value tuples compared as tuples
    (a None bound is open) — the partition range a time range routes
    to, so it prunes a Dec→Jan range to its two months.  The leading
    parts both bounds share become equalities, so a range inside one
    partition is a plain conjunction.  ``col=pyarrow.dataset.field``
    builds it as the filter of the driver-side dir read.  Returns None
    when nothing is bounded."""
    terms, k = [], 0
    if lo is not None and hi is not None:
        while k < len(parts) and lo[k] == hi[k]:
            terms.append(col(parts[k]) == lo[k])
            k += 1
    for b, lower in ((lo, True), (hi, False)):
        if b is None or k == len(parts):
            continue
        expr = None
        for c, v in reversed(list(zip(parts[k:], b[k:]))):
            f = col(c)
            if expr is None:
                expr = f >= v if lower else f <= v
            else:
                expr = (f > v if lower else f < v) | ((f == v) & expr)
        terms.append(expr)
    pred = None
    for t in terms:
        pred = t if pred is None else (pred & t)
    return pred


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns: result bit 2i carries bit i of ``a``,
    bit 2i+1 carries bit i of ``b``.

    Purpose: multi-dimensional file skipping.  Sorting a table by ONE
    column gives parquet min/max pruning on that column only; sorting by
    the z-key keeps each file's span narrow in BOTH dimensions, so range
    predicates on either column (or both) prune files.  This is the
    standard space-filling-curve clustering (Delta/Iceberg OPTIMIZE
    ZORDER) expressed as a plain codegen column — no UDF, usable with
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` at any scale.

    All arithmetic is 64-bit (``bits`` ≤ 31 keeps the result positive);
    expressions unroll to shift/and/or chains inside whole-stage codegen.
    """
    z: Column = F.lit(0).cast("long")
    al = a.cast("long")
    bl = b.cast("long")
    for i in range(bits):
        abit = F.shiftright(al, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(bl, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z


def cluster_by_zorder(
    df: DataFrame, col_a: str, col_b: str, n_files: int, bits: int = 16
) -> DataFrame:
    """Range-partition ``df`` into ``n_files`` z-contiguous slices and
    sort within each — the write-side clustering pass that makes
    parquet min/max stats selective on both columns."""
    zk = zorder_key(F.col(col_a), F.col(col_b), bits=bits)
    return (
        df.withColumn("__zkey", zk)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
