"""Self-tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, layers  # noqa: E402
from perfbench.layers import percentile  # noqa: E402
from perfbench.run import NAMED, end_to_end, supported_percentile  # noqa: E402
from perfbench.workloads import SIZES, Run, _Deadline, _StopAt  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- percentile rule -------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, want):
    assert supported_percentile(n) == want


def test_supported_percentile_is_the_highest_with_ten_beyond():
    for n in range(0, 3000, 7):
        p = supported_percentile(n)
        if p is None:
            assert n * 0.5 < 10
            continue
        assert n * (100 - p) / 100 >= 10 - 1e-9


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile([7.0], 90) == 7.0


# -- seed determinism ------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_same_seed_same_inputs(workload):
    sizes = SIZES[workload]
    a = gen.input_digest(workload, 5, sizes)
    assert a == gen.input_digest(workload, 5, sizes)
    assert a != gen.input_digest(workload, 6, sizes)


def test_landing_files_and_payloads_are_pure_functions_of_the_seed():
    b1, b2 = gen.trade_bursts(3, 4), gen.trade_bursts(3, 4)
    assert [gen.burst_jsonl(b) for b in b1] == [gen.burst_jsonl(b) for b in b2]
    r1, r2 = gen.backfill_request(3), gen.backfill_request(3)
    assert gen.request_payload(r1) == gen.request_payload(r2)
    for a, b in zip(gen.bar_batches(3), gen.bar_batches(3)):
        assert all(np.array_equal(a[k], b[k]) for k in a)


def test_generated_keys_are_unique_and_malformed_counts_exact():
    bursts = gen.trade_bursts(9, 40)
    keys = {(k, t) for b in bursts for k, t in zip(b["ticker"].tolist(), b["ts"].tolist())}
    assert len(keys) == 40 * gen.BURST_ROWS
    late = [b for b in bursts if (b["ts"] < bursts[0]["ts"].min()).any()]
    assert len(late) == 40 // gen.LATE_EVERY
    order = gen.delivery_order(40)
    assert [b for b, redo in order if not redo] == list(range(40))
    for i, (b, redo) in enumerate(order):
        if redo:  # repeats a burst already delivered
            assert (b, False) in order[:i]
    req = gen.backfill_request(9)
    assert len(set(req["ts"].tolist())) == gen.REQUEST_BARS > 131_072
    rows = gen.request_payload(req)
    assert len(rows) == gen.REQUEST_BARS
    assert sum(r["timestamp"] is None for r in rows) == gen.MALFORMED_BARS
    bar_ts = np.concatenate([b["ts"] for b in gen.bar_batches(9)])
    assert len(set(bar_ts.tolist())) == len(bar_ts) == gen.BAR_DAYS * gen.SESSION_BARS


def test_mix_commit_rows_never_collide_with_prebuilt_trades():
    trades = gen.trade_days(2)
    keys = {(k, t) for d in trades for k, t in zip(d["ticker"].tolist(), d["ts"].tolist())}
    ops = gen.mix_ops(2, 200)
    commits = [op["rows"] for op in ops if op["kind"] == "commit"]
    seen = set()
    for c in commits:
        ck = set(zip(c["ticker"].tolist(), c["ts"].tolist()))
        assert len(ck) == gen.MIX_COMMIT_ROWS
        assert not ck & keys and not ck & seen
        seen |= ck


def test_op_cycle_is_fixed_and_about_ten_percent_commits():
    n = 5 * len(gen.OP_CYCLE)
    kinds = [op["kind"] for op in gen.mix_ops(1, n)]
    assert kinds == [gen.OP_CYCLE[i % len(gen.OP_CYCLE)] for i in range(n)]
    assert 0.08 <= kinds.count("commit") / n <= 0.12


def test_bar_reads_stay_inside_the_stores_bars():
    days = {str(d) for d in gen.bar_days()[:gen.BAR_DAYS]}
    for op in gen.mix_ops(4, 300):
        if op["kind"] == "read_1w":
            assert op["start"][:10] in days and op["end"][:10] in days


# -- the drain's deadline --------------------------------------------------


class _Store:
    def __init__(self):
        self.calls = []

    def ingest_batch(self, batch, mode):
        self.calls.append((batch, mode))
        return 7


def test_stop_at_commits_before_the_deadline_and_raises_after():
    store = _Store()
    assert _StopAt(store, float("inf")).ingest_batch("b", "streaming") == 7
    with pytest.raises(_Deadline, match=_StopAt.MARK):
        _StopAt(store, 0.0).ingest_batch("c", "streaming")
    assert store.calls == [("b", "streaming")]


# -- printed names match BENCHMARK.json ----------------------------------


def _fake_run(workload: str) -> Run:
    r = Run(wall_s=10.0, rows=1000, counted=6)
    primary, aux = layers.OPS[workload]
    for i in range(3):
        r.op(primary, 0.0, 1.0 + i)
        r.op(aux, 0.0, 0.5 + i)
    return r


@pytest.mark.parametrize("workload", sorted(layers.OPS))
def test_end_to_end_names_and_units_match_benchmark_json(workload):
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    got = end_to_end(workload, _fake_run(workload), 1.0)
    assert {k: u for k, (_v, u) in got.items()} == spec
    assert all(np.isfinite(v) and v > 0 for v, _u in got.values())


def test_per_layer_names_and_units_match_benchmark_json():
    spec = [(m["name"], m["unit"]) for m in _benchmark_json()["per_layer"]]
    assert spec == list(layers.PER_LAYER)


def test_workloads_match_benchmark_json():
    bj = _benchmark_json()
    assert sorted(w["name"] for w in bj["workloads"]) == sorted(layers.OPS)
    assert sorted(NAMED) == sorted(layers.OPS)
    assert bj["command"] == ["python3", "perfbench/run.py"]
