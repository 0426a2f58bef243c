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
