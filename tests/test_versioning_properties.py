"""Property-based tests (hypothesis) for dedup/versioning invariants of
the one delta kernel, ``versioned_delta_arrow``.

The reference tests only a fixed golden fixture; these verify the
semantics hold for arbitrary batches:

1. no (key, payload) pair is ever stored twice
2. versions per key are exactly 1..n (contiguous, no gaps)
3. input order never changes the stored (key, payload, version) set
4. re-ingesting any previously ingested batch appends nothing
"""

from __future__ import annotations

import random

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from stock_ops_spark import schemas as S
from stock_ops_spark.sources.ingest import versioned_delta_arrow

TZ = "America/New_York"

# small domains force key collisions and payload conflicts
row_strategy = st.tuples(
    st.sampled_from(["SPY", "VOO"]),                      # ticker
    st.sampled_from([1000, 2000, 3000]),                  # timestamp_UTC_ms
    st.sampled_from([None, 1.0, 2.0]),                    # price
    st.sampled_from([None, 5]),                           # volume
    st.sampled_from([None, 9.0]),                         # ask_price
    st.none(),                                            # bid_price
    st.none(),                                            # ask_size
    st.none(),                                            # bid_size
)


def _table(rows):
    names = S.STREAMING.fieldNames()
    return pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(S.STREAMING)
    )


def _stored(rows):
    out = versioned_delta_arrow(_table(rows), None, "streaming", TZ)
    cols = ["ticker", "timestamp_UTC_ms", "price", "volume", "ask_price", "version"]
    return list(zip(*(out[c].to_pylist() for c in cols)))


@settings(max_examples=100, deadline=None)
@given(rows=st.lists(row_strategy, min_size=1, max_size=12), seed=st.integers(0, 3))
def test_versioning_invariants(rows, seed):
    # drop rows whose payload is entirely None only from EXPECTATION—the
    # engine must do it itself
    stored = _stored(rows)

    # 1. no duplicate (key, payload)
    kp = [(t, ts, p, v, a) for (t, ts, p, v, a, _ver) in stored]
    assert len(kp) == len(set(kp))

    # 2. versions contiguous 1..n per key
    by_key: dict = {}
    for t, ts, p, v, a, ver in stored:
        by_key.setdefault((t, ts), []).append(ver)
    for vers in by_key.values():
        assert sorted(vers) == list(range(1, len(vers) + 1))

    # 3. all-null payloads never stored
    assert all(
        not (p is None and v is None and a is None) for (_, _, p, v, a, _ver) in stored
    )

    # 4. order independence of the full stored set
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    assert set(stored) == set(_stored(shuffled))


@settings(max_examples=100, deadline=None)
@given(rows=st.lists(row_strategy, min_size=1, max_size=8))
def test_reingest_idempotent(rows):
    batch = _table(rows)
    first = versioned_delta_arrow(batch, None, "streaming", TZ)
    again = versioned_delta_arrow(batch, first, "streaming", TZ)
    assert again.num_rows == 0
