"""Seeded input generation for the perfbench workloads.

Every input a workload feeds the engine comes from here, built from one
``--seed`` before the timed region: the same seed gives byte-identical
inputs.
The engine only ever sees the generated rows (landing files, provider
payloads, local relations); the generator's own copy of the rows is what
the workloads' output checks compare against.  ``input_digest`` hashes
a workload's inputs so two runs can show they saw the same ones.

Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from zoneinfo import ZoneInfo

import numpy as np

TZ = "America/New_York"
_NY = ZoneInfo(TZ)

#: a fixed universe; the hot-ticker skew comes from ``hot_weights``
TICKERS = (
    "SPY", "QQQ", "AAPL", "MSFT", "NVDA", "AMZN",
    "TSLA", "META", "GOOG", "AMD", "IWM", "VOO",
)

#: live feed burst size: the reference writer's ~500-row batch, far below
#: the engine's micro-commit bound (128k rows)
BURST_ROWS = 500
#: event time one burst covers
BURST_SPAN_MS = 60_000
#: every LATE_EVERY-th burst carries LATE_ROWS rows that arrive late,
#: back to an earlier day (a commit whose bounds overlap older data):
#: one row of each of the first LATE_ROWS tickers, 1..LATE_ROWS days
#: back, so every seed's late bursts have the same shape
LATE_EVERY = 8
LATE_ROWS = 5
#: one arrival in every REDELIVER_EVERY, the REDELIVER_AT-th of each
#: block, repeats the file delivered just before it verbatim
#: (at-least-once delivery): 4% of the feed's files
REDELIVER_EVERY = 25
REDELIVER_AT = 5
#: first trading day of the live feed (a Tuesday)
LIVE_DAY = dt.date(2024, 3, 5)

#: the S1 backfill request of query_mix's traced run: 1m session bars of
#: one ticker (about 17 months), above the engine's micro-commit bound
#: (131,072 rows) so the distributed write path runs
REQUEST_BARS = 140_000
#: bars the provider returns malformed (no timestamp), 1%
MALFORMED_BARS = REQUEST_BARS // 100
BAR_TICKER = "SPY"
#: days at the end of the request that a second, overlapping request
#: fetches again (below the micro bound)
REFETCH_DAYS = 5
BAR_FIRST_DAY = dt.date(2022, 7, 5)

SESSION_BARS = 390  # 09:30-16:00 one-minute bars
#: the bars query_mix's store is built with: the first BAR_DAYS trading
#: days of ``bar_days`` (about three months), one commit per
#: BAR_COMMIT_DAYS days
BAR_DAYS = 60
BAR_COMMIT_DAYS = 30


def hot_weights(n: int, s: float = 1.2) -> np.ndarray:
    """Zipf-like ticker popularity: the first few take most rows."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _session_open_ms(day: dt.date) -> int:
    t = dt.datetime(day.year, day.month, day.day, 9, 30, tzinfo=_NY)
    return int(t.timestamp() * 1000)


def trading_days(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _walk(rng: np.random.Generator, n: int, start: float) -> np.ndarray:
    steps = rng.normal(0.0, 0.0004, n)
    return np.round(start * np.exp(np.cumsum(steps)), 4)


# -- live_stream ---------------------------------------------------------


def is_late(burst: int) -> bool:
    """Whether burst ``burst`` carries late rows."""
    return burst % LATE_EVERY == LATE_EVERY - 1


def trade_bursts(seed: int, n_bursts: int) -> list[dict]:
    """``n_bursts`` first-delivery feed bursts of ``BURST_ROWS`` trades.

    Burst ``b`` covers one minute of the live session in order, with a
    shuffled row order (out of order within the burst); every
    ``LATE_EVERY``-th burst has ``LATE_ROWS`` rows moved back 1-5 days
    (late data routes to earlier day partitions).  Keys (ticker,
    timestamp_UTC_ms) are unique across bursts.  Each burst is a dict of
    numpy columns."""
    rng = np.random.default_rng([seed, 1])
    w = hot_weights(len(TICKERS))
    base = _session_open_ms(LIVE_DAY)
    price0 = {t: 50.0 + 40.0 * i for i, t in enumerate(TICKERS)}
    out = []
    for b in range(n_bursts):
        ts = base + b * BURST_SPAN_MS + np.sort(
            rng.choice(BURST_SPAN_MS, BURST_ROWS, replace=False)
        )
        tk = rng.choice(len(TICKERS), BURST_ROWS, p=w)
        late = rng.choice(BURST_ROWS, LATE_ROWS, replace=False)
        if is_late(b):
            tk[late] = np.arange(LATE_ROWS)
            ts[late] -= np.arange(1, LATE_ROWS + 1) * 86_400_000
        price = np.empty(BURST_ROWS)
        for i, t in enumerate(TICKERS):
            m = tk == i
            if m.any():
                price[m] = _walk(rng, int(m.sum()), price0[t])
                price0[t] = float(price[m][-1])
        vol = rng.integers(1, 500, BURST_ROWS)
        order = rng.permutation(BURST_ROWS)
        out.append({
            "ticker": tk[order], "ts": ts[order],
            "price": price[order], "volume": vol[order],
        })
    return out


def burst_jsonl(burst: dict) -> bytes:
    """One burst as the JSON-lines landing file the file source reads."""
    lines = [
        '{"ticker":"%s","timestamp_UTC_ms":%d,"price":%r,"volume":%d}'
        % (TICKERS[k], t, float(p), v)
        for k, t, p, v in zip(
            burst["ticker"].tolist(), burst["ts"].tolist(),
            burst["price"].tolist(), burst["volume"].tolist(),
        )
    ]
    return ("\n".join(lines) + "\n").encode()


def delivery_order(n_bursts: int) -> list[tuple[int, bool]]:
    """(burst index, is_redelivery) in arrival order: arrival
    ``REDELIVER_AT`` of every block of ``REDELIVER_EVERY`` repeats the
    burst delivered just before it.  The same for every seed: which burst
    comes back changes what its dedup reads."""
    out: list[tuple[int, bool]] = []
    nxt = 0
    while nxt < n_bursts:
        if len(out) % REDELIVER_EVERY == REDELIVER_AT:
            out.append((nxt - 1, True))
        else:
            out.append((nxt, False))
            nxt += 1
    return out


# -- backfill (query_mix's traced run) and the store's bars --------------


def bar_days() -> list[dt.date]:
    """The trading days the backfill request covers."""
    return trading_days(BAR_FIRST_DAY, -(-REQUEST_BARS // SESSION_BARS))


def backfill_request(seed: int) -> dict:
    """The S1 request: ``ticker``/``start``/``end`` (the exchange-local
    wall strings the service takes) and its bars as numpy columns;
    ``bad`` indexes the malformed ones."""
    rng = np.random.default_rng([seed, 3])
    opens = np.array([_session_open_ms(d) // 1000 for d in bar_days()], dtype=np.int64)
    ts = (opens[:, None] + 60 * np.arange(SESSION_BARS)[None, :]).ravel()[:REQUEST_BARS]
    lo_w = dt.datetime.fromtimestamp(int(ts[0]), _NY)
    hi_w = dt.datetime.fromtimestamp(int(ts[-1]), _NY)
    return {
        "ticker": BAR_TICKER,
        "start": lo_w.strftime("%Y-%m-%d %H:%M"),
        "end": hi_w.strftime("%Y-%m-%d %H:%M"),
        "ts": ts,
        "close": _walk(rng, REQUEST_BARS, 400.0),
        "spread": np.round(rng.uniform(0.0, 0.3, REQUEST_BARS), 4),
        "volume": rng.integers(100, 50_000, REQUEST_BARS),
        "bad": np.sort(rng.choice(REQUEST_BARS, MALFORMED_BARS, replace=False)),
        # the re-fetch: the request's last REFETCH_DAYS days again, from
        # bar index ``refetch_from`` (a re-run deployment's overlap)
        "refetch_start": f"{bar_days()[-REFETCH_DAYS]} 09:30",
        "refetch_from": int(np.searchsorted(
            ts, _session_open_ms(bar_days()[-REFETCH_DAYS]) // 1000
        )),
    }


def bar_batches(seed: int) -> list[dict]:
    """The bars query_mix's store is built with: one dict of numpy
    columns (``ts``, ``close``, ``spread``, ``volume``) per commit."""
    rng = np.random.default_rng([seed, 4])
    days = bar_days()[:BAR_DAYS]
    close0 = 400.0
    out = []
    for i in range(0, BAR_DAYS, BAR_COMMIT_DAYS):
        opens = np.array(
            [_session_open_ms(d) // 1000 for d in days[i:i + BAR_COMMIT_DAYS]], dtype=np.int64
        )
        ts = (opens[:, None] + 60 * np.arange(SESSION_BARS)[None, :]).ravel()
        close = _walk(rng, len(ts), close0)
        close0 = float(close[-1])
        out.append({
            "ts": ts, "close": close,
            "spread": np.round(rng.uniform(0.0, 0.3, len(ts)), 4),
            "volume": rng.integers(100, 50_000, len(ts)),
        })
    return out


def request_payload(req: dict) -> list[dict]:
    """The raw EODHD-shaped intraday rows the provider returns for a
    request; the ``bad`` rows carry no timestamp (malformed)."""
    ts = req["ts"].tolist()
    for i in req["bad"].tolist():
        ts[i] = None
    close = req["close"].tolist()
    spread = req["spread"].tolist()
    vol = req["volume"].tolist()
    return [
        {"timestamp": t, "open": c, "high": round(c + s, 4),
         "low": round(c - s, 4), "close": c, "volume": v}
        for t, c, s, v in zip(ts, close, spread, vol)
    ]


# -- query_mix -----------------------------------------------------------

#: pre-built store shape (besides the backfilled bars)
TRADE_DAYS = 4
TRADES_PER_DAY = 6_000
MIX_COMMIT_ROWS = 500
#: fixed op cycle (parameters are seeded, the type sequence is not, so
#: every run sees the same mix): 6 trade reads (5 of 1 day, 1 of 1
#: hour), 1 bar read (1 week), 1 OHLC, 1 as-of, 1 stats, 1 commit (9%)
OP_CYCLE = (
    "read_1d", "read_1h", "read_1d", "read_1w", "read_1d", "ohlc",
    "read_1d", "asof", "read_1d", "stats", "commit",
)
ASOF_LOOKUPS = 200


def trade_days(seed: int) -> list[dict]:
    """One commit's worth of trades per trading day (hot-skewed tickers,
    timestamps on even milliseconds so mixed-in commits can use odd ones
    without a key collision)."""
    rng = np.random.default_rng([seed, 5])
    w = hot_weights(len(TICKERS))
    session_ms = SESSION_BARS * 60_000
    out = []
    price0 = {t: 50.0 + 40.0 * i for i, t in enumerate(TICKERS)}
    for d in trading_days(dt.date(2024, 2, 5), TRADE_DAYS):
        base = _session_open_ms(d)
        ts = base + 2 * np.sort(
            rng.choice(session_ms // 2, TRADES_PER_DAY, replace=False)
        )
        tk = rng.choice(len(TICKERS), TRADES_PER_DAY, p=w)
        price = np.empty(TRADES_PER_DAY)
        for i, t in enumerate(TICKERS):
            m = tk == i
            if m.any():
                price[m] = _walk(rng, int(m.sum()), price0[t])
                price0[t] = float(price[m][-1])
        out.append({
            "ticker": tk, "ts": ts, "price": price,
            "volume": rng.integers(1, 500, TRADES_PER_DAY),
        })
    return out


def mix_ops(seed: int, n: int) -> list[dict]:
    """The first ``n`` ops of the query mix: the type follows
    ``OP_CYCLE``; ticker (hot-skewed), window start and as-of lookups
    are seeded."""
    rng = np.random.default_rng([seed, 6])
    w = hot_weights(len(TICKERS))
    tdays = trading_days(dt.date(2024, 2, 5), TRADE_DAYS)
    bdays = bar_days()
    ops = []
    commit_k = 0
    for i in range(n):
        kind = OP_CYCLE[i % len(OP_CYCLE)]
        op: dict = {"kind": kind, "ticker": TICKERS[int(rng.choice(len(TICKERS), p=w))]}
        if kind in ("read_1h", "read_1d"):
            d = tdays[int(rng.integers(0, len(tdays)))]
            if kind == "read_1h":
                h = int(rng.integers(9, 15))
                op["start"] = f"{d} {h:02d}:45"
                op["end"] = f"{d} {h + 1:02d}:45"
            else:
                op["start"] = f"{d} 09:30"
                op["end"] = f"{d} 16:00"
        elif kind == "read_1w":
            op["ticker"] = BAR_TICKER
            k = int(rng.integers(0, BAR_DAYS - 5))
            op["start"] = f"{bdays[k]} 09:30"
            op["end"] = f"{bdays[k + 5]} 09:30"
        elif kind == "ohlc":
            k = int(rng.integers(0, len(tdays) - 2))
            op["start"] = f"{tdays[k]} 00:00"
            op["end"] = f"{tdays[k + 2]} 23:59"
        elif kind == "asof":
            d = tdays[int(rng.integers(0, len(tdays)))]
            op["start"] = f"{d} 09:30"
            op["end"] = f"{d} 16:00"
            base = _session_open_ms(d)
            op["lookups"] = np.sort(
                base + rng.choice(SESSION_BARS * 60_000, ASOF_LOOKUPS, replace=False)
            )
        elif kind == "commit":
            d = tdays[commit_k % len(tdays)]
            base = _session_open_ms(d)
            # odd milliseconds: never a key of the pre-built trades, and
            # each commit takes its own residue class mod 16
            slots = rng.choice(SESSION_BARS * 60_000 // 16, MIX_COMMIT_ROWS, replace=False)
            op["rows"] = {
                "ticker": rng.choice(len(TICKERS), MIX_COMMIT_ROWS, p=w),
                "ts": base + 16 * np.sort(slots) + 1 + 2 * (commit_k // len(tdays) % 8),
                "price": np.round(rng.uniform(50, 500, MIX_COMMIT_ROWS), 4),
                "volume": rng.integers(1, 500, MIX_COMMIT_ROWS),
            }
            commit_k += 1
        ops.append(op)
    return ops


def _feed(h, obj) -> None:
    if isinstance(obj, np.ndarray):
        h.update(str(obj.dtype).encode())
        h.update(np.ascontiguousarray(obj).tobytes())
    elif isinstance(obj, dict):
        for k in sorted(obj):
            h.update(k.encode())
            _feed(h, obj[k])
    elif isinstance(obj, (list, tuple)):
        for x in obj:
            _feed(h, x)
    else:
        h.update(json.dumps(obj).encode())


def input_digest(workload: str, seed: int, sizes: dict) -> str:
    """A short hash of every input ``workload`` generates from ``seed``
    (the landing files and provider payloads are pure functions of
    these).  ``sizes`` holds the workload's generation sizes."""
    h = hashlib.sha256()
    if workload == "live_stream":
        _feed(h, trade_bursts(seed, sizes["bursts"]))
        _feed(h, delivery_order(sizes["bursts"]))
    elif workload == "query_mix":
        _feed(h, backfill_request(seed))
        _feed(h, bar_batches(seed))
        _feed(h, trade_days(seed))
        _feed(h, mix_ops(seed, sizes["ops"]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return h.hexdigest()[:16]
