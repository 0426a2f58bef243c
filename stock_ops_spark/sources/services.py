"""Ingestion services: the S1/S2 entry points rebuilt Spark-first.

The reference's historical task (``eodhd_historical_service.py:160-210``)
fetches REST bars, transforms row-at-a-time, and emits each row through the
Redis buffer to the writer.  Here the whole tail collapses: fetch →
``spark.createDataFrame`` → declarative transform (sources/transform.py) →
``ManifestStore.ingest_batch`` (dedup/version/stats in one commit).

The streaming task drains the provider's frame iterator into the store the
same way — or, for a live deployment, frames land in files/Kafka and
``streaming.ingest.stream_ingest`` takes over with checkpointing.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import SparkSession

from stock_ops_spark.localrel import local_relation
from stock_ops_spark.schemas import INTERDAY_INTERVALS
from stock_ops_spark.sources import resilience as R
from stock_ops_spark.sources import transform as X
from stock_ops_spark.sources.commitlog import ManifestStore
from stock_ops_spark.sources.providers import get as get_provider
from stock_ops_spark.sources.reader import _local_wall_to_epoch

_INTERDAY_RAW = (
    "date string, open double, high double, low double, close double, "
    "adjusted_close double, volume long"
)
_INTRADAY_RAW = (
    "timestamp long, open double, high double, low double, close double, volume long"
)
_TRADE_RAW = "s string, t long, p double, v long"
_QUOTE_RAW = "s string, t long, ap double, bp double, `as` long, bs long"


def run_historical_task(
    spark: SparkSession,
    store: ManifestStore,
    provider: str,
    ticker: str,
    exchange: str,
    interval: str,
    start: str,
    end: str,
    retry: "R.RetryPolicy | None" = None,
) -> int:
    """S1: fetch + normalize + ingest one historical request.
    Returns rows appended.

    With ``retry`` set, the fetch runs under the reference's REST
    hardening (bounded retries + backoff, sources/resilience.py); the
    provider may also register ``fetch_fallback`` as the one-shot
    alternate transport (the IPv6 re-resolution analog)."""
    p = get_provider(provider)
    if p.fetch_historical is None:
        raise ValueError(f"provider {provider!r} has no historical fetcher")
    if retry is not None:
        raw_rows = R.fetch_with_retry(
            p.fetch_historical,
            ticker,
            exchange,
            interval,
            start,
            end,
            policy=retry,
            fallback=p.fetch_fallback,
        )
    else:
        raw_rows = p.fetch_historical(ticker, exchange, interval, start, end)

    if interval in INTERDAY_INTERVALS:
        raw = local_relation(spark, raw_rows, _INTERDAY_RAW)
        normalized, _rejects = X.interday(raw, ticker, interval)
        mode = "historical_interday"
    else:
        raw = local_relation(spark, raw_rows, _INTRADAY_RAW)
        normalized, _rejects = X.intraday(raw, ticker, interval)
        mode = "historical_intraday"
    return store.ingest_batch(normalized, mode)


def run_stream_task(
    spark: SparkSession,
    store: ManifestStore,
    provider: str,
    tickers: list[str],
    exchange: str,
    stream_type: str = "trades",
    max_frames: int | None = None,
    duration: float | None = None,
    reconnect: "R.RetryPolicy | None" = None,
) -> int:
    """S2 (bounded drain form): pull frames from the provider's iterator,
    normalize per shape, ingest as one micro-batch.  The unbounded live
    form is streaming.ingest.stream_ingest over a file/Kafka landing zone.

    With ``reconnect`` set (optionally plus a global ``duration`` bound),
    the iterator runs under the reference's WebSocket reconnect/backoff
    loop (sources/resilience.py) — connection drops re-dial and frames
    arrive at-least-once; the store's dedup writer downstream makes the
    counts effectively-once."""
    p = get_provider(provider)
    if p.stream_frames is None:
        raise ValueError(f"provider {provider!r} has no stream source")
    if reconnect is not None:
        source = R.resilient_frames(
            lambda: p.stream_frames(tickers, exchange, stream_type),
            duration=duration,
            policy=reconnect,
        )
    else:
        # only dial when it will actually be consumed: a non-generator
        # provider opens its connection at call time
        source = p.stream_frames(tickers, exchange, stream_type)
    frames = []
    for i, frame in enumerate(source):
        frames.append(frame)
        if max_frames is not None and i + 1 >= max_frames:
            break
    if not frames:
        return 0
    if stream_type == "quotes":
        raw = local_relation(spark, frames, _QUOTE_RAW)
        normalized, _rejects = X.quotes(raw)
    else:
        raw = local_relation(spark, frames, _TRADE_RAW)
        normalized, _rejects = X.trades(raw)
    return store.ingest_batch(normalized, "streaming")


def _keep_from_cutoff(mode: str, keep_from, tz: str):
    """The ``retain_before`` cutoff for a ``(year[, month[, day]])``
    bound: exchange-local midnight of its first day, in the mode's time
    column — epoch seconds (intraday), epoch ms (streaming) or an ISO
    date (interday)."""
    if not 1 <= len(keep_from) <= 3:
        raise ValueError(f"keep_from {keep_from!r} is not (year[, month[, day]])")
    day = _dt.date(*(tuple(keep_from) + (1, 1))[:3])
    if mode == "historical_interday":
        return day.isoformat()
    s = _local_wall_to_epoch(f"{day} 00:00", tz)
    return s * 1000 if mode == "streaming" else s


def run_command(
    spark: SparkSession,
    store: ManifestStore,
    command_type: str,
    command: dict,
    provider: str = "EODHD-mock",
    retry: "R.RetryPolicy | None" = None,
) -> int:
    """Controller twin (reference controller.py:9-39 +
    data_pipeline_flow.py:13-31): dispatch one orchestration command dict
    to the matching service.  Command shapes follow the reference exactly
    — historical: {ticker, exchange, interval, start, end}; streaming:
    {tickers, exchange, stream_type, duration}.  Returns rows appended.

    The reference's exactly-one-service invariant becomes an explicit
    command_type check; unknown types raise (the Prefect flow's
    ValueError path).

    ``maintain_store`` runs one store maintenance op as a manifest
    commit (``widen_types``: a file-name-preserving rewrite) and returns
    a job size instead of rows, so the scheduler's run log stays uniform:

    - ``compact``: live batch dirs folded away (dirs before - 1, or 0);
    - ``retain`` (``keep_from`` = exchange-local ``(year[, month[,
      day]])``, the first day kept): batch dirs dropped whole or
      rewritten without their expired rows;
    - ``widen_types``: files cast-rewritten."""
    if command_type == "fetch_historical":
        return run_historical_task(
            spark,
            store,
            provider,
            ticker=command["ticker"],
            exchange=command["exchange"],
            interval=command["interval"],
            start=command["start"],
            end=command["end"],
            retry=retry,
        )
    if command_type == "drain_stream":
        # Engine extension: scheduled micro-batch drain of a file
        # landing zone — cron-style streaming.  The reference's
        # start_stream holds a long-lived socket; a parquet-lake
        # deployment often prefers periodic availableNow drains with
        # the SAME checkpoint + dedup contract (offsets in the
        # checkpoint progress exactly-once; the idempotent writer makes
        # redelivered rows effectively-once).  Command: {path,
        # checkpoint, mode?, max_files_per_trigger?}.  Returns rows
        # appended (post-dedup), observed from the store's delta hook.
        from stock_ops_spark.streaming.ingest import (
            file_trade_source,
            stream_ingest,
        )

        appended = {"n": 0}

        def _count_delta(delta, _mode):
            appended["n"] += delta.count()

        source = file_trade_source(
            spark,
            command["path"],
            max_files_per_trigger=int(command.get("max_files_per_trigger", 1)),
        )
        store.observers.append(_count_delta)
        try:
            q = stream_ingest(
                source,
                store,
                mode=command.get("mode", "streaming"),
                checkpoint=command["checkpoint"],
                available_now=True,
            )
            q.awaitTermination()
        finally:
            store.observers.remove(_count_delta)
        return appended["n"]
    if command_type == "maintain_store":
        # Engine extension (no reference analog: the reference trims its
        # Redis buffer inline at write time, writer.py:35-37,293-297 —
        # a parquet store runs maintenance as SCHEDULED jobs, which is
        # exactly what the scheduling module dispatches here).  Command:
        # {op: compact|retain|widen_types, mode: <store mode>,
        # keep_from?} — the counts returned are in the docstring.
        op = command["op"]
        mode = command["mode"]
        if op == "compact":
            return max(0, store.compact(mode)["rewritten"] - 1)
        if op == "retain":
            cutoff = _keep_from_cutoff(mode, command["keep_from"], store.tz)
            res = store.retain_before(mode, cutoff)
            return res["deleted_dirs"] + res["rewritten_dirs"]
        if op == "widen_types":
            return store.widen_types(mode)["files_rewritten"]
        raise ValueError(f"Unsupported maintenance op: {op!r}")
    if command_type == "start_stream":
        tickers = command["tickers"]
        if isinstance(tickers, str):
            tickers = [tickers]  # reference wraps the scalar the same way
        return run_stream_task(
            spark,
            store,
            provider,
            tickers=tickers,
            exchange=command["exchange"],
            stream_type=command.get("stream_type", "trades"),
            max_frames=command.get("max_frames"),
            duration=command.get("duration"),
            reconnect=retry,
        )
    raise ValueError(f"Unsupported command type: {command_type!r}")

def run_historical_backfill(
    spark: SparkSession,
    store: ManifestStore,
    provider: str,
    tickers: list[str],
    exchange: str,
    interval: str,
    start: str,
    end: str,
    retries: int = 0,
) -> int:
    """S1 at backfill scale: the executor-side twin of
    ``run_historical_task``.  The ``stockops_rest`` Python DataSource
    (sources/pyds.py) fetches one ticker per InputPartition on the
    executors — the driver never holds a payload and 5000 tickers
    fetch with cluster parallelism — then the same P1 normalization
    and dedup/version ingest apply.  Returns rows appended."""
    from stock_ops_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    raw = (
        spark.read.format("stockops_rest")
        .option("provider", provider)
        .option("tickers", ",".join(tickers))
        .option("exchange", exchange)
        .option("interval", interval)
        .option("start", start)
        .option("end", end)
        .option("retries", str(retries))
        .load()
    )
    if interval in INTERDAY_INTERVALS:
        normalized, _rejects = X.interday(raw, None, interval)
        mode = "historical_interday"
    else:
        normalized, _rejects = X.intraday(raw, None, interval)
        mode = "historical_intraday"
    return store.ingest_batch(normalized, mode)
