"""localrel.local_relation: same rows and errors as createDataFrame."""

from __future__ import annotations

import pytest

from stock_ops_spark.localrel import local_relation

SCHEMA = "ticker string, n bigint"


def test_positional_and_dict_rows_match_create_dataframe(spark):
    rows = [("AAPL", 1), ("MSFT", None)]
    want = sorted(map(tuple, spark.createDataFrame(rows, SCHEMA).collect()), key=str)
    got = local_relation(spark, rows, SCHEMA)
    assert sorted(map(tuple, got.collect()), key=str) == want
    by_name = local_relation(spark, [{"ticker": "AAPL", "n": 1}, {"ticker": "MSFT"}], SCHEMA)
    assert sorted(map(tuple, by_name.collect()), key=str) == want


@pytest.mark.parametrize(
    "rows",
    [[("AAPL", 1, "extra")], [("AAPL",)], [("AAPL", 1), ("MSFT", 2, 3)]],
    ids=["long", "short", "one-bad-row"],
)
def test_wrong_length_rows_raise_like_create_dataframe(spark, rows):
    with pytest.raises(Exception) as classic:
        spark.createDataFrame(rows, SCHEMA).collect()
    with pytest.raises(type(classic.value)):
        local_relation(spark, rows, SCHEMA).collect()


def test_arrow_relation_remembers_its_table_for_that_frame_only(spark):
    import pyarrow as pa

    from stock_ops_spark.localrel import arrow_relation, arrow_table

    tbl = pa.table({"ticker": ["AAPL", None], "n": pa.array([1, 2], pa.int64())})
    df = arrow_relation(spark, tbl)
    assert df.isLocal() and all(f.nullable for f in df.schema)
    assert arrow_table(df).equals(tbl)
    assert arrow_table(df.select("n")) is None
    assert arrow_table(local_relation(spark, [("AAPL", 1)], SCHEMA)) is not None


def test_arrow_relation_keeps_rows_after_an_empty_batch(spark):
    """``createDataFrame`` of an Arrow table drops every row after an
    empty record batch that follows a non-empty one — the shape of a
    change feed whose span holds an empty change-data file."""
    import pyarrow as pa

    from stock_ops_spark.localrel import arrow_relation

    one = pa.table({"x": pa.array([1], pa.int64())})
    tbl = pa.concat_tables(
        [one, one.slice(0, 0), pa.table({"x": pa.array([2, 3], pa.int64())})]
    )
    assert sorted(r.x for r in arrow_relation(spark, tbl).collect()) == [1, 2, 3]
