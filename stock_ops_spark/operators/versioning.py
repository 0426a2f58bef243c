"""The O5 'current' view of the versioned log (reference
``sql_db.py:455-553``): readers see every version, and the current row
of a key is its max-version row.  The store is an append-only versioned
log on plain Parquet — the reference never updates in place — so the
view is one window per key over the stored rows.  The versions
themselves are assigned at ingest (``sources/ingest.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_version_view(
    df: DataFrame, key_cols: list[str], as_of: int | None = None
) -> DataFrame:
    """O5 'current' view: the max-version row per key.

    ``as_of`` gives TIME TRAVEL on the append-only versioned log: the
    current view as it stood when version ``as_of`` was the newest —
    rows with version > as_of are simply filtered BEFORE the ranking
    window, so a snapshot read costs exactly what the current read
    costs (one pushed-down filter + the same single exchange)."""
    if as_of is not None:
        df = df.where(F.col("version") <= F.lit(as_of))
    w = Window.partitionBy(*key_cols).orderBy(F.col("version").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
