"""Driver-local relations that plan as ``LocalTableScan`` (r12, §2/§5).

``spark.createDataFrame(list)`` always routes through an RDD — the list is
pickled into ``defaultParallelism`` slices and every downstream action pays
task launches plus a Python-worker roundtrip just to re-read rows the
driver already had (measured 0.5-0.8 s per action on a dozen-row relation
on the bench box, multi-second under load waves).  Routing the same rows
through one Arrow table instead plans as a true ``LocalTableScan``: no
RDD, no Python eval at action time, ~0.1 s per action on the same relation
— and any join against it can be broadcast from plan-visible size.

``arrow_relation`` is the engine's one builder of such a leaf from an
Arrow table: the store's driver-side reads (range reads, change feeds,
stats views) and driver-computed commit deltas enter Spark through it,
and ``local_relation`` routes rows through it after building their
table.  Those rows are the tiny frames the engine fabricates on the
driver: provider fetch results entering the ingest path, audit tails,
rate/term/lag dimension tables.  Values, schema and every downstream
operator are unchanged — this is purely the leaf's physical encoding.

The frame ``arrow_relation`` returns remembers its table
(``arrow_table``), so a consumer that wants the rows back on the driver
— ``ReadProcess.to_pandas`` — converts them with no Spark job.  Only
that exact frame does: anything derived from it (a ``select``, a
``where``, an operator's output) is a new plan and reads through Spark.
Every frame built here keeps its table alive for as long as the frame
lives, whether or not anything reads it back: a driver read, change
feed, stats view or commit delta holds at most ``MICRO_COMMIT_ROWS``
rows, and a ``local_relation`` frame holds the rows its caller passed.

Timestamp fields decline to the classic path: a naive ``datetime`` means
"driver-local wall clock" there, and replicating that conversion through
Arrow's tz-aware arrays buys nothing for the row counts involved.
"""

from __future__ import annotations

import weakref

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType, TimestampNTZType

#: frame -> the Arrow table it was built from, for frames built here only
_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def arrow_relation(spark: SparkSession, tbl: pa.Table, schema=None) -> DataFrame:
    """The Arrow table ``tbl`` as one local relation (LocalTableScan).

    With no ``schema`` every column is nullable, as in Spark's parquet
    reads; a ``schema`` (StructType) is Spark's ``createDataFrame``
    schema.  The returned frame remembers ``tbl`` for ``arrow_table``,
    which keeps ``tbl`` in driver memory until the frame is collected."""
    if schema is None:
        tbl = tbl.cast(pa.schema([f.with_nullable(True) for f in tbl.schema]))
    # createDataFrame drops every row after an empty record batch that
    # follows a non-empty one (a concatenated change feed with an empty
    # change-data file lost its later commits): hand it non-empty ones
    tbl = pa.Table.from_batches(
        [b for b in tbl.to_batches() if b.num_rows], tbl.schema
    )
    df = spark.createDataFrame(tbl, schema)
    _TABLES[df] = tbl
    return df


def arrow_table(df: DataFrame) -> pa.Table | None:
    """The Arrow table ``df`` was built from by ``arrow_relation``, or
    None for any other frame — derived ones included."""
    return _TABLES.get(df)


def local_relation(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` that plans as LocalTableScan.

    ``rows``: list of tuples/Rows (positional) or dicts (by name, missing
    keys NULL-filled).  ``schema``: DDL string or StructType.  Anything
    the Arrow path cannot represent exactly falls back to the classic
    createDataFrame with identical semantics — including positional rows
    whose length differs from the schema width, which it rejects.
    """
    struct = schema
    if not isinstance(struct, StructType):
        try:
            from pyspark.sql.types import _parse_datatype_string

            struct = _parse_datatype_string(schema)
        except Exception:
            return spark.createDataFrame(rows, schema)
    names = struct.fieldNames()
    by_name = bool(rows) and isinstance(rows[0], dict)
    if not any(
        isinstance(f.dataType, (TimestampType, TimestampNTZType))
        for f in struct.fields
    ) and (by_name or all(len(r) == len(names) for r in rows)):
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(struct)
            if by_name:
                tbl = pa.Table.from_pylist(rows, schema=arrow_schema)
            else:
                # positional rows: transposed, then built column-wise
                cols = list(zip(*rows)) or [()] * len(names)
                tbl = pa.Table.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
                    schema=arrow_schema,
                )
            return arrow_relation(spark, tbl, struct)
        except Exception:
            pass
    return spark.createDataFrame(rows, struct)
