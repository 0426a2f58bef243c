"""The perfbench workloads.

Each is a closed loop with one client in one Python process: the next op
starts only when the previous one returned.  Each ``setup`` builds its
inputs from the seed (counted in ``setup_s``), each ``warm`` runs the
workload's op shapes once, untimed, and each ``run`` measures for the
asked seconds, drives the engine only through its public entry points
and checks every op's output; a failed check or an exception is a failed
op and the loop goes on.

- ``live_stream``: a backlog of 500-row feed bursts drains through one
  ``stream_ingest`` availableNow query over ``file_trade_source`` into a
  ``ManifestStore`` until the asked seconds are up (micro-commit and
  commit-log write side).
- ``query_mix``: its set-up commits months of bars and days of trades;
  the timed loop runs range reads, session OHLC, as-of lookups, table
  stats and small commits (reader, operators and the commit-log read
  side).  The traced run also backfills bars the S1 way
  (``run_historical_task`` above the micro bound: the distributed write
  path) into a store of its own.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import gen
from perfbench.trace import Tracer

#: first-delivery bursts landed for live_stream: more than a run drains
#: (a commit takes well over 0.1 s, so 30 s drain fewer than 300 files)
LIVE_BURSTS = 240
#: bursts live_stream's warm-up drains into a scratch store, in order:
#: two plain ones, a verbatim repeat of the first and the first late one
WARM_BURSTS = ((0, False), (1, False), (0, True), (gen.LATE_EVERY - 1, False))
#: ops generated for query_mix: 20 cycles, more than a run gets through
MIX_OPS = 20 * len(gen.OP_CYCLE)
#: generation sizes per workload, for ``gen.input_digest``
SIZES = {
    "live_stream": {"bursts": LIVE_BURSTS},
    "query_mix": {"ops": MIX_OPS},
}


@dataclass
class Run:
    """What a workload's timed loop measured."""

    #: epoch seconds the timed loop started; ``counted`` ops took
    #: ``wall_s`` seconds of engine time (output checks excluded), which
    #: gives the run's throughput
    t_start: float = 0.0
    wall_s: float = 0.0
    counted: int = 0
    #: op type -> latencies (s) of the ops of that type that succeeded
    lat: dict = field(default_factory=dict)
    #: op type -> [(start, end)] epoch seconds, for job attribution
    ivals: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    rows: int = 0
    notes: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def op(self, kind: str, t0: float, t1: float, ok: bool = True) -> None:
        self.attempted += 1
        if ok:
            self.lat.setdefault(kind, []).append(t1 - t0)
        else:
            self.failed += 1
        self.ivals.setdefault(kind, []).append((t0, t1))

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.notes.append(what)

    def absorb(self, other: "Run") -> None:
        """Add another run's ops (latencies, intervals, counts, notes)."""
        for kind, xs in other.lat.items():
            self.lat.setdefault(kind, []).extend(xs)
        for kind, xs in other.ivals.items():
            self.ivals.setdefault(kind, []).extend(xs)
        self.attempted += other.attempted
        self.failed += other.failed
        self.notes += other.notes
        self.extra.update(other.extra)


def _trades_table(rows: dict) -> pa.Table:
    """Generator trade columns -> a STREAMING-schema Arrow table."""
    n = len(rows["ts"])
    null_d = pa.nulls(n, pa.float64())
    null_l = pa.nulls(n, pa.int64())
    return pa.table({
        "ticker": pa.array([gen.TICKERS[k] for k in rows["ticker"].tolist()]),
        "timestamp_UTC_ms": pa.array(rows["ts"], pa.int64()),
        "price": pa.array(rows["price"], pa.float64()),
        "volume": pa.array(rows["volume"], pa.int64()),
        "ask_price": null_d, "bid_price": null_d,
        "ask_size": null_l, "bid_size": null_l,
    })


def _trades_pdf(rows: dict) -> pd.DataFrame:
    return pd.DataFrame({
        "ticker": np.array(gen.TICKERS)[rows["ticker"]],
        "ts": rows["ts"].astype(np.int64),
        "price": rows["price"].astype(float),
        "volume": rows["volume"].astype(np.int64),
    })


def _bars_table(bars: dict) -> pa.Table:
    """Generator bar columns -> a HISTORICAL_INTRADAY-schema Arrow table."""
    n = len(bars["ts"])
    close = pa.array(bars["close"], pa.float64())
    return pa.table({
        "ticker": pa.array([gen.BAR_TICKER] * n),
        "timestamp_UTC_s": pa.array(bars["ts"], pa.int64()),
        "open": close,
        "high": pa.array(np.round(bars["close"] + bars["spread"], 4), pa.float64()),
        "low": pa.array(np.round(bars["close"] - bars["spread"], 4), pa.float64()),
        "close": close,
        "volume": pa.array(bars["volume"], pa.int64()),
        "interval": pa.array(["1m"] * n),
    })


# -- live_stream ---------------------------------------------------------


def _batch_kind(burst: int, redo: bool) -> str:
    """A redelivered file, a first delivery carrying late rows (its commit
    re-dedups against every live dir its bounds overlap: several times a
    plain commit), or a plain first delivery.  Kept apart so no median
    sits on the boundary of the mixture."""
    if redo:
        return "redelivery"
    if gen.is_late(burst):
        return "late_commit"
    return "commit"


class _Deadline(RuntimeError):
    """What ``_StopAt`` raises when the measuring time is up."""


class _StopAt:
    """The store as the stream's batch writer sees it: a batch handed
    over after ``deadline`` raises instead of committing, which ends the
    availableNow query there with nothing of that batch written."""

    MARK = "perfbench: measuring time is up"

    def __init__(self, store, deadline: float):
        self.store, self.deadline = store, deadline

    def ingest_batch(self, batch, mode: str) -> int:
        if time.time() >= self.deadline:
            raise _Deadline(self.MARK)
        return self.store.ingest_batch(batch, mode)


class LiveStream:
    name = "live_stream"

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer

    def setup(self, seconds: float) -> None:
        """Land the backlog: one file per arrival, oldest first (strictly
        increasing mtimes, so batch k of the drain is file k)."""
        from stock_ops_spark.sources.commitlog import ManifestStore

        self.seconds = seconds
        self.bursts = gen.trade_bursts(self.seed, LIVE_BURSTS)
        self.order = gen.delivery_order(LIVE_BURSTS)
        self.landing = os.path.join(self.work, "landing")
        self.ckpt = os.path.join(self.work, "ckpt")
        self._land(self.landing, [gen.burst_jsonl(self.bursts[b]) for b, _ in self.order])
        self.store = ManifestStore(self.spark, os.path.join(self.work, "store"))

    @staticmethod
    def _land(landing: str, blobs: list[bytes]) -> None:
        os.makedirs(landing)
        ns0 = time.time_ns() - (len(blobs) + 1) * 1_000_000_000
        for i, blob in enumerate(blobs):
            path = os.path.join(landing, f"burst-{i:05d}.json")
            with open(path, "wb") as f:
                f.write(blob)
            ns = ns0 + i * 1_000_000_000
            os.utime(path, ns=(ns, ns))

    def _drain(self, landing: str, store, ckpt: str):
        """One availableNow query over ``landing``, one file per batch.
        Returns the progress of the batches that read rows, and the
        error the query ended with (None when it drained everything)."""
        from stock_ops_spark.streaming.ingest import file_trade_source, stream_ingest

        q = stream_ingest(
            file_trade_source(self.spark, landing, 1), store,
            checkpoint=ckpt, available_now=True,
        )
        err = None
        try:
            q.awaitTermination()
        except Exception as e:  # noqa: BLE001 — the caller sorts it out
            err = e
        return [p for p in q.recentProgress if p.numInputRows], err

    def warm(self) -> None:
        """Drain a plain, a redelivered and a late burst into a scratch
        store: the query start and the JIT and first-use costs of the
        streaming and commit paths, which a long-running writer paid long
        ago (the first commits of a fresh JVM take 2-3x a warm one)."""
        from stock_ops_spark.sources.commitlog import ManifestStore

        d = os.path.join(self.work, "warm")
        self._land(os.path.join(d, "landing"), [
            gen.burst_jsonl(self.bursts[b]) for b, _redo in WARM_BURSTS
        ])
        store = ManifestStore(self.spark, os.path.join(d, "store"))
        _progress, err = self._drain(os.path.join(d, "landing"), store, os.path.join(d, "ckpt"))
        if err is not None:
            raise err
        shutil.rmtree(d, ignore_errors=True)

    def run(self) -> Run:
        """Drain the backlog until the asked seconds are up: the batch
        after the deadline is not committed.  ``wall_s`` runs from the
        first batch's start to the last committed batch's end."""
        r = Run()
        r.t_start = time.time()
        with self.tracer.span("streaming.drain", op="drain"):
            progress, err = self._drain(
                self.landing, _StopAt(self.store, r.t_start + self.seconds), self.ckpt
            )
        if err is not None and _StopAt.MARK not in str(err):
            r.fail(f"drain: {type(err).__name__}: {str(err)[:300]}")
            r.attempted += 1
        first = None
        for (b, redo), p in zip(self.order, progress):
            t0 = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            t1 = t0 + p.durationMs["triggerExecution"] / 1000.0
            r.op(_batch_kind(b, redo), t0, t1)
            first = t0 if first is None else first
            r.wall_s = t1 - first
            if not redo:
                r.rows += gen.BURST_ROWS
        r.counted = len(progress)
        self._check(r, len(progress))
        return r

    def _check(self, r: Run, delivered: int) -> None:
        """Exactly-once: the store holds each first-delivered burst's
        rows once, every first delivery made one commit of its own rows
        and no redelivery made a commit."""
        import json

        firsts = [b for b, redo in self.order[:delivered] if not redo]
        if not firsts:
            return
        exp = pd.concat(
            [_trades_pdf(self.bursts[b]).assign(burst=b) for b in firsts],
            ignore_index=True,
        )
        got = self.store.read_all("streaming")
        got = (
            got.selectExpr("ticker", "timestamp_UTC_ms AS ts", "price", "volume", "version")
            .toPandas()
        )
        m = exp.merge(got, on=["ticker", "ts"], how="outer", suffixes=("", "_got"), indicator=True)
        bad = (
            (m["_merge"] != "both")
            | (m["price"] != m["price_got"])
            | (m["volume"] != m["volume_got"])
            | (m["version"] != 1)
        )
        dup = got.duplicated(["ticker", "ts"]).sum()
        n_bad_bursts = m.loc[bad & m["burst"].notna(), "burst"].nunique()
        extra_rows = int((m["_merge"] == "right_only").sum())
        if n_bad_bursts or extra_rows or dup:
            r.fail(f"view: {n_bad_bursts} bursts wrong, {extra_rows} extra rows, {dup} dup keys",
                   n_bad_bursts + (1 if extra_rows or dup else 0))
        log_dir = self.store.log("streaming").log_dir
        ingests = []
        for name in sorted(os.listdir(log_dir)):
            if name.endswith(".json"):
                with open(os.path.join(log_dir, name)) as f:
                    c = json.load(f)
                if c.get("op") == "ingest":
                    ingests.append(sum(m.get("n", 0) for m in c["meta"].values()))
        if len(ingests) != len(firsts) or any(n != gen.BURST_ROWS for n in ingests):
            r.fail(f"commits: {len(ingests)} ingest commits for {len(firsts)} first deliveries")


# -- query_mix -----------------------------------------------------------


def _wall_epoch(s: str) -> int:
    """Exchange-local 'YYYY-MM-DD HH:MM' -> epoch seconds (the reader's rule)."""
    naive = dt.datetime.strptime(s, "%Y-%m-%d %H:%M")
    return int(naive.replace(tzinfo=gen._NY).timestamp())


def _oracle_ohlc(tr: pd.DataFrame) -> pd.DataFrame:
    local = pd.to_datetime(tr["ts"], unit="ms", utc=True).dt.tz_convert(gen.TZ)
    hm = local.dt.strftime("%H:%M")
    t = tr.assign(day=local.dt.date, hm=hm)
    t = t[(t["hm"] >= "09:30") & (t["hm"] <= "16:00")].sort_values("ts")
    g = t.groupby("day")["price"]
    return pd.DataFrame({
        "open": g.first(), "high": g.max(), "low": g.min(),
        "close": g.last(), "n_trades": g.size(),
    }).reset_index()


def _oracle_nearest(lookups: np.ndarray, ts: np.ndarray, price: np.ndarray) -> np.ndarray:
    """Nearest trade price per lookup; the earlier trade wins a tie."""
    i = np.searchsorted(ts, lookups, side="right")
    out = np.full(len(lookups), np.nan)
    for j, (l, k) in enumerate(zip(lookups.tolist(), i.tolist())):
        back = k - 1 if k > 0 else None
        fwd = k if k < len(ts) else None
        if back is not None and (fwd is None or l - ts[back] <= ts[fwd] - l):
            out[j] = price[back]
        elif fwd is not None:
            out[j] = price[fwd]
    return out


class QueryMix:
    name = "query_mix"

    PROVIDER = "perfbench"

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer

    def setup(self, seconds: float) -> None:
        """Build the store: one commit per trading day of trades and one
        per ``gen.BAR_COMMIT_DAYS`` days of bars.  The traced run also
        backfills bars through the S1 service into a store of its own."""
        from stock_ops_spark import schemas as S
        from stock_ops_spark.sources.commitlog import ManifestStore
        from stock_ops_spark.sources.reader import ReadProcess

        self.seconds = seconds
        self.store = ManifestStore(self.spark, os.path.join(self.work, "store"))
        trades = gen.trade_days(self.seed)
        for t in trades:
            self.store.ingest_batch(
                self.spark.createDataFrame(_trades_table(t), S.STREAMING), "streaming"
            )
        bars = gen.bar_batches(self.seed)
        for b in bars:
            self.store.ingest_batch(
                self.spark.createDataFrame(_bars_table(b), S.HISTORICAL_INTRADAY),
                "historical_intraday",
            )
        self.setup_run = Run(t_start=time.time())
        if self.tracer.enabled:
            self._backfill(self.setup_run)
        self.setup_run.wall_s = time.time() - self.setup_run.t_start
        self.trades = pd.concat([_trades_pdf(t) for t in trades], ignore_index=True)
        self.bars = pd.DataFrame({
            "ticker": gen.BAR_TICKER,
            "ts": np.concatenate([b["ts"] for b in bars]),
            "close": np.concatenate([b["close"] for b in bars]),
        })
        self.ops = gen.mix_ops(self.seed, MIX_OPS)
        self.reader = ReadProcess(self.store)

    def _backfill(self, r: Run) -> None:
        """Bars arriving the S1 way, into a store of their own: one
        request above the micro-commit bound through
        ``run_historical_task`` from a registered provider, then a
        re-fetch of its last days (a re-run deployment's overlap).
        Checks: the request appends every valid bar, the re-fetch appends
        none, each rejects exactly its malformed bars, and the view holds
        the valid bars once."""
        from pyspark.sql import functions as F
        from stock_ops_spark.sources import services, transform
        from stock_ops_spark.sources.commitlog import ManifestStore
        from stock_ops_spark.sources.providers import ExchangeConfig, Provider, register

        store = ManifestStore(self.spark, os.path.join(self.work, "backfill"))

        q = gen.backfill_request(self.seed)
        rows = gen.request_payload(q)
        cut = q["refetch_from"]
        payloads = {q["start"]: rows, q["refetch_start"]: rows[cut:]}
        want_rej = [gen.MALFORMED_BARS, int((q["bad"] >= cut).sum())]
        tracer = self.tracer

        def fetch(ticker, exchange, interval, start, end):
            with tracer.span("services.fetch"):
                return payloads[start]

        register(Provider(
            name=self.PROVIDER, exchanges={"US": ExchangeConfig()},
            fetch_historical=fetch,
        ))
        rejects = []
        orig = transform.intraday

        def keep_rejects(raw, ticker, interval):
            ok, bad = orig(raw, ticker, interval)
            rejects.append(bad)  # counted after the timed calls
            return ok, bad

        transform.intraday = keep_rejects
        valid = gen.REQUEST_BARS - gen.MALFORMED_BARS
        try:
            for kind, start, want in (
                ("request", q["start"], valid), ("refetch", q["refetch_start"], 0),
            ):
                t0 = time.time()
                try:
                    with self.tracer.span("services.run_historical_task", op=kind):
                        n = services.run_historical_task(
                            self.spark, store, self.PROVIDER, q["ticker"],
                            "US", "1m", start, q["end"],
                        )
                    ok = n == want
                    if not ok:
                        r.notes.append(f"{kind}: appended {n}, want {want}")
                except Exception as e:  # noqa: BLE001 — count, keep going
                    ok = False
                    r.notes.append(f"{kind}: {type(e).__name__}: {e}")
                r.op(kind, t0, time.time(), ok)
        finally:
            transform.intraday = orig
        n_rej = [b.count() for b in rejects]
        r.extra["rejected_rows"] = sum(n_rej)
        if n_rej != want_rej:
            r.fail(f"rejects: {n_rej}, want {want_rej}")
        keep = np.ones(gen.REQUEST_BARS, bool)
        keep[q["bad"]] = False
        ts, close = q["ts"][keep], q["close"][keep]
        row = (
            store.read_all("historical_intraday")
            .agg(
                F.count(F.lit(1)), F.countDistinct("ticker", "timestamp_UTC_s"),
                F.min("timestamp_UTC_s"), F.max("timestamp_UTC_s"),
                F.sum("timestamp_UTC_s"), F.sum("close"),
            )
            .collect()[0]
        )
        want = (len(ts), len(ts), int(ts.min()), int(ts.max()), int(ts.sum()))
        if tuple(row[:5]) != want or not np.isclose(row[5], close.sum(), rtol=1e-12):
            r.fail(f"bars view {tuple(row)} differs from the generated bars {want}")

    # each op returns (time its engine part ended, ok, rows returned);
    # the output check after that time is not part of the op's latency
    def _read(self, op: dict):
        from stock_ops_spark.sources.reader import EmptyReadError

        weekly = op["kind"] == "read_1w"
        mode = "historical_intraday" if weekly else "streaming"
        pdf = None
        try:
            with self.tracer.span("reader.read_dt_range"):
                df = self.reader.read_dt_range(mode, op["ticker"], op["start"], op["end"])
            with self.tracer.span("reader.to_pandas"):
                pdf = self.reader.to_pandas(df, mode)
        except EmptyReadError:
            pass
        t1 = time.time()
        lo, hi = _wall_epoch(op["start"]), _wall_epoch(op["end"])
        if weekly:
            src, col = self.bars, "close"
        else:
            src, col = self.trades, "price"
            lo, hi = lo * 1000, hi * 1000
        exp = src[(src["ticker"] == op["ticker"]) & (src["ts"] >= lo) & (src["ts"] <= hi)]
        exp = exp.sort_values("ts")
        if pdf is None:
            return t1, exp.empty, 0
        tsc = "timestamp_UTC_s" if weekly else "timestamp_UTC_ms"
        ok = (
            len(pdf) == len(exp)
            and (pdf[tsc].to_numpy() == exp["ts"].to_numpy()).all()
            and (pdf[col].to_numpy() == exp[col].to_numpy()).all()
        )
        return t1, ok, len(pdf)

    def _ohlc(self, op: dict):
        from pyspark.sql import functions as F
        from stock_ops_spark.operators.ohlc import session_ohlc

        df = self.reader.read_dt_range("streaming", op["ticker"], op["start"], op["end"])
        with self.tracer.span("ohlc.session_ohlc"):
            got = (
                session_ohlc(df, F.timestamp_millis("timestamp_UTC_ms"), F.col("price"), tz=gen.TZ)
                .toPandas().sort_values("session_date", ignore_index=True)
            )
        t1 = time.time()
        lo, hi = _wall_epoch(op["start"]) * 1000, _wall_epoch(op["end"]) * 1000
        t = self.trades
        exp = _oracle_ohlc(t[(t["ticker"] == op["ticker"]) & (t["ts"] >= lo) & (t["ts"] <= hi)])
        ok = len(got) == len(exp) and all(
            (got[c].to_numpy() == exp[c].to_numpy()).all()
            for c in ("open", "high", "low", "close", "n_trades")
        ) and [str(d) for d in got["session_date"]] == [str(d) for d in exp["day"]]
        return t1, ok, len(got)

    def _asof(self, op: dict):
        from stock_ops_spark.operators.asof import asof_join_nearest

        right = self.reader.read_dt_range(
            "streaming", op["ticker"], op["start"], op["end"]
        ).select("ticker", "timestamp_UTC_ms", "price")
        left = self.spark.createDataFrame(pa.table({
            "ticker": pa.array([op["ticker"]] * len(op["lookups"])),
            "timestamp_UTC_ms": pa.array(op["lookups"], pa.int64()),
        }))
        with self.tracer.span("asof.nearest"):
            got = (
                asof_join_nearest(left, right, "timestamp_UTC_ms", by=["ticker"],
                                  right_value_cols=["price"])
                .toPandas().sort_values("timestamp_UTC_ms", ignore_index=True)
            )
        t1 = time.time()
        lo, hi = _wall_epoch(op["start"]) * 1000, _wall_epoch(op["end"]) * 1000
        t = self.trades
        t = t[(t["ticker"] == op["ticker"]) & (t["ts"] >= lo) & (t["ts"] <= hi)].sort_values("ts")
        exp = _oracle_nearest(op["lookups"], t["ts"].to_numpy(), t["price"].to_numpy())
        ok = len(got) == len(exp) and np.array_equal(
            got["price_right"].to_numpy(dtype=float), exp, equal_nan=True
        )
        return t1, ok, len(got)

    def _stats(self, op: dict):
        with self.tracer.span("commitlog.table_stats"):
            got = self.store.table_stats("streaming").toPandas()
        t1 = time.time()
        g = self.trades.groupby("ticker")["ts"]
        exp = pd.DataFrame({"row_count": g.size(), "min_ts": g.min(), "max_ts": g.max()})
        got = got.set_index("ticker").sort_index()
        exp = exp.sort_index()
        ok = (
            list(got.index) == list(exp.index)
            and all((got[c].astype(np.int64).to_numpy() == exp[c].to_numpy()).all()
                    for c in ("row_count", "min_ts", "max_ts"))
        )
        return t1, ok, len(got)

    def _commit(self, op: dict):
        from stock_ops_spark import schemas as S

        df = self.spark.createDataFrame(_trades_table(op["rows"]), S.STREAMING)
        n = self.store.ingest_batch(df, "streaming")
        t1 = time.time()
        if n == gen.MIX_COMMIT_ROWS:
            self.trades = pd.concat([self.trades, _trades_pdf(op["rows"])], ignore_index=True)
        return t1, n == gen.MIX_COMMIT_ROWS, 0

    def _kinds(self) -> dict:
        """Op name -> (op type, function).  Trade-table reads (1 hour, 1
        day) and bar-table reads (1 week) are separate op types: they
        read different tables, so one median over both would sit on the
        boundary of a mixture."""
        return {"read_1h": ("read", self._read), "read_1d": ("read", self._read),
                "read_1w": ("bar_read", self._read), "ohlc": ("ohlc", self._ohlc),
                "asof": ("asof", self._asof), "stats": ("stats", self._stats),
                "commit": ("mix_commit", self._commit)}

    def _do(self, op: dict, r: Run):
        """Run one op; a wrong result or an exception is noted.  Returns
        (op type, start, engine end, ok, rows returned)."""
        kind, fn = self._kinds()[op["kind"]]
        t0 = time.time()
        try:
            with self.tracer.span(f"op.{kind}", op=kind):
                t1, ok, n = fn(op)
            if not ok:
                r.notes.append(f"{op['kind']} {op['ticker']} {op.get('start')}: wrong result")
        except Exception as e:  # noqa: BLE001 — count, keep going
            t1, ok, n = time.time(), False, 0
            r.notes.append(f"{op['kind']} {op['ticker']}: {type(e).__name__}: {e}")
        return kind, t0, t1, ok, n

    def warm(self) -> None:
        """Run the first op of each type in the first cycle, untimed: the
        JIT and first-use costs of every op's path, which otherwise land
        on the first ops of every run.  Their checks count."""
        seen = set()
        for op in self.ops[:len(gen.OP_CYCLE)]:
            if self._kinds()[op["kind"]][0] in seen:
                continue
            kind, t0, t1, ok, _n = self._do(op, self.setup_run)
            self.setup_run.op(kind, t0, t1, ok)
            seen.add(kind)

    def run(self) -> Run:
        """Op cycles from the second on until the asked seconds are up:
        the op after the deadline is not run.  ``wall_s`` sums the engine
        time of the whole cycles, so every run's throughput has the same
        op mix."""
        r = Run()
        r.t_start = time.time()
        deadline = r.t_start + self.seconds
        cyc = len(gen.OP_CYCLE)
        part = 0.0
        for i, op in enumerate(self.ops[cyc:]):
            if time.time() >= deadline:
                break
            kind, t0, t1, ok, n = self._do(op, r)
            r.op(kind, t0, t1, ok)
            r.rows += n if kind == "read" else 0
            part += t1 - t0
            if (i + 1) % cyc == 0:
                r.wall_s, r.counted, part = r.wall_s + part, r.counted + cyc, 0.0
        if not r.counted:  # not one whole cycle: every op run counts
            r.wall_s, r.counted = part, r.attempted
        return r


WORKLOADS = {w.name: w for w in (LiveStream, QueryMix)}
