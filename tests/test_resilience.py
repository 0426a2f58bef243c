"""Connector resilience policies: REST retry+fallback, stream reconnect
backoff — offline twins of the reference's live loops
(eodhd_historical_service.py:112-146, eodhd_streaming_service.py:156-266).
Pure-Python: no Spark session needed."""

from __future__ import annotations

import pytest

from stock_ops_spark.sources.resilience import (
    RetryPolicy,
    fetch_with_retry,
    resilient_frames,
)

NO_JITTER = lambda lo, hi: 0.0  # noqa: E731


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_fetch_retry_succeeds_after_transient_failures():
    calls = []

    def flaky(*args):
        calls.append(args)
        if len(calls) < 3:
            raise ConnectionError("transient")
        return [{"ok": 1}]

    slept = []
    out = fetch_with_retry(
        flaky,
        "SPY",
        policy=RetryPolicy(retries=3, base_backoff=1.0, max_backoff=30.0),
        sleep=slept.append,
        rng=NO_JITTER,
    )
    assert out == [{"ok": 1}] and len(calls) == 3
    assert slept == [1.0, 2.0]  # exponential schedule, no jitter


def test_fetch_fallback_tried_once_on_first_failure():
    order = []

    def primary(*a):
        order.append("primary")
        raise ConnectionError("ipv4 unreachable")

    def fallback(*a):
        order.append("fallback")
        return [{"via": "ipv6"}]

    out = fetch_with_retry(primary, "SPY", fallback=fallback, sleep=lambda s: None)
    assert out == [{"via": "ipv6"}]
    assert order == ["primary", "fallback"]  # no backoff loop entered


def test_fetch_raises_after_exhaustion_with_capped_backoff():
    slept = []
    with pytest.raises(ConnectionError, match="down"):
        fetch_with_retry(
            lambda: (_ for _ in ()).throw(ConnectionError("down")),
            policy=RetryPolicy(retries=4, base_backoff=10.0, max_backoff=25.0),
            sleep=slept.append,
            rng=NO_JITTER,
        )
    assert slept == [10.0, 20.0, 25.0, 25.0]  # cap at max_backoff


def test_jitter_added_and_capped():
    p = RetryPolicy(base_backoff=8.0, max_backoff=12.0, jitter_frac=0.5)
    assert p.delay(0, lambda lo, hi: hi) == 12.0  # 8 + 4 = 12, at cap
    assert p.delay(0, NO_JITTER) == 8.0
    assert p.delay(5, NO_JITTER) == 12.0  # pre-jitter backoff capped too


def test_resilient_frames_reconnects_and_resets_backoff():
    sessions = []

    def connect():
        n = len(sessions)
        sessions.append(n)
        if n == 0:
            def gen():
                yield {"f": 1}
                raise ConnectionError("drop mid-stream")
            return gen()
        if n == 1:
            raise ConnectionError("dial failed")  # fails at connect time
        return iter([{"f": 2}, {"f": 3}])

    clock = FakeClock()
    slept = []

    def sleep(s):
        slept.append(s)
        clock.sleep(s)

    got = []
    it = resilient_frames(
        connect,
        duration=1000.0,
        policy=RetryPolicy(base_backoff=1.0, max_backoff=30.0),
        sleep=sleep,
        clock=clock,
        rng=NO_JITTER,
    )
    for f in it:
        got.append(f)
        if len(got) == 3:
            break
    assert got == [{"f": 1}, {"f": 2}, {"f": 3}]
    # first drop: backoff reset by the successful frame → 1s;
    # consecutive connect failure escalates → 2s
    assert slept == [1.0, 2.0]
    assert len(sessions) == 3


def test_resilient_frames_duration_gate_never_oversleeps():
    clock = FakeClock()

    def connect():
        raise ConnectionError("always down")

    it = resilient_frames(
        connect,
        duration=5.0,
        policy=RetryPolicy(base_backoff=4.0, max_backoff=60.0),
        sleep=clock.sleep,
        clock=clock,
        rng=NO_JITTER,
    )
    assert list(it) == []  # exhausts the window, yields nothing
    assert clock.t == pytest.approx(5.0)  # slept exactly to the gate, not past


def test_resilient_frames_clean_end_reconnects_until_duration():
    clock = FakeClock()
    sessions = []

    def connect():
        sessions.append(clock.t)
        clock.sleep(1.0)  # each session takes 1s of wall time
        return iter([{"f": len(sessions)}])

    it = resilient_frames(connect, duration=3.5, clock=clock, sleep=clock.sleep)
    assert [f["f"] for f in it] == [1, 2, 3, 4]
    assert len(sessions) == 4  # polite close → re-dial, until the gate


def test_non_retryable_propagates():
    def connect():
        raise ValueError("bad credentials")

    with pytest.raises(ValueError, match="credentials"):
        list(resilient_frames(connect, duration=10.0))


def test_stream_task_with_reconnect_policy(spark, tmp_path):
    """run_stream_task under a reconnect policy: provider drops after one
    frame per session, replays on re-dial — at-least-once frames, and the
    dedup writer lands effectively-once rows in the store."""
    from stock_ops_spark.sources.commitlog import ManifestStore
    from stock_ops_spark.sources.providers import Provider, register
    from stock_ops_spark.sources.services import run_stream_task

    sessions = []

    def frames(tickers, exchange, stream_type):
        n = len(sessions)
        sessions.append(n)
        # replay-from-start provider: each dial re-sends everything sent so
        # far plus one new frame, then drops the connection
        all_frames = [
            {"s": "SPY", "t": 1755526571834 + i * 1000, "p": 643.0 + i, "v": 10 + i}
            for i in range(n + 1)
        ]
        for f in all_frames:
            yield f
        raise ConnectionError("provider dropped")

    register(Provider(name="flaky-mock", stream_frames=frames))
    store = ManifestStore(spark, str(tmp_path / "store"))
    n = run_stream_task(
        spark,
        store,
        "flaky-mock",
        ["SPY"],
        "US",
        max_frames=6,  # 1 + 2 + 3 frames over three sessions
        reconnect=RetryPolicy(base_backoff=0.0, max_backoff=0.0, jitter_frac=0.0),
    )
    assert len(sessions) == 3
    # 6 at-least-once frames collapse to 3 unique trades
    assert n == 3
    assert store.read_all("streaming").count() == 3


def test_resilient_frames_empty_session_backs_off():
    """A provider that accepts the dial and closes without yielding must
    go through the backoff schedule, not a zero-delay reconnect storm;
    sessions that produced frames still re-dial immediately."""
    clock = FakeClock()
    slept = []

    def sleep(s):
        slept.append(s)
        clock.sleep(s)

    sessions = []

    def connect():
        sessions.append(clock.t)
        if len(sessions) < 4:
            return iter([])  # accept, then close politely: zero frames
        return iter([{"f": 1}])

    it = resilient_frames(
        connect,
        duration=1000.0,
        policy=RetryPolicy(base_backoff=1.0, max_backoff=30.0),
        sleep=sleep,
        clock=clock,
        rng=NO_JITTER,
    )
    assert next(it) == {"f": 1}
    assert slept == [1.0, 2.0, 4.0]  # escalating, no zero-delay spins
