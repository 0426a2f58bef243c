"""Structured Streaming ingestion (reference S2/S4/ST1-ST7).

The reference's Redis-buffer + single-writer loop (at-least-once + dedup →
effectively-once) collapses into ``readStream → foreachBatch(batch
writer) → checkpoint``: Spark's WAL + idempotent micro-batch replay gives
the same effectively-once outcome with zero custom recovery code
(XAUTOCLAIM, pending-claim, XTRIM all disappear, ST1/ST5/ST7).

- ``stream_ingest``: any streaming DataFrame of normalized records →
  ManifestStore, one dedup/version/commit per micro-batch.  The trigger
  interval is the micro-batch accumulation knob (reference BUFFER_BLOCK_MS,
  A8); ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` are the batch-size
  bound (BUFFER_BATCH).
- ``file_trade_source``: a file-based streaming source standing in for the
  provider WebSocket (SURVEY §7 step 5 — the socket connector itself is a
  deployment concern; every engine semantic is exercised through this).
- ``streaming_bars``: ST3 capability upgrade — watermarked tumbling-window
  OHLCV bars derived from raw trades in-stream.

Late data (ST2): ingest uses NO watermark — late rows route to their
correct historical partition via A2 and are never dropped.  Watermarks
appear only in stateful window aggregations (streaming_bars), where they bound
state, matching the reference's never-drop ingest posture.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stock_ops_spark.schemas import STREAMING
from stock_ops_spark.sources.commitlog import ManifestStore


class GroupCommitCoordinator:
    """Driver-side GROUP COMMIT for concurrent streams into one store
    (VERDICT r9 #4) — the WAL group-commit discipline (first arrival
    leads, lingers briefly, commits everything queued in one
    ``ManifestStore.ingest_group`` call).

    Several streaming queries writing to one store each pay the
    per-commit fixed cost (one probe job and ~0.1 s in the store for a
    micro batch at ``local[2]``; seconds for a batch over the micro
    bound) and contend on the commit race; coalescing their
    concurrently-arriving micro-batches amortizes both (measured when
    every commit planned its delta in Spark: 4-writer 524 → 1,203
    rows/s).  Protocol per
    ``submit``:

    - enqueue the batch and try to become the LEADER; a follower just
      waits for its batch's commit to land.
    - the leader LINGERS (enough for same-trigger batches from sibling
      streams to arrive, far less than a commit), then drains
      ``sizing.commit_group_size(queue_depth)`` batches through
      ``ingest_group`` — which PROVES key-disjointness and falls back
      to sequential ingestion for anything it can't prove, so
      correctness never depends on the grouping.

    The linger AUTO-TUNES by default (r11, VERDICT #4): a fixed value
    can sit exactly wrong against the streams' trigger cadence — r10
    measured 0.3 s phase-locking a 4-stream drain into 3+1 splits at
    194 rows/s while 0.1 s coalesced perfect groups of 4 at 929.  The
    coordinator records submit inter-arrival gaps (a bounded deque)
    and the leader sets each linger from
    ``sizing.commit_linger_s(gaps)`` — covering the observed burst
    span without reaching halfway to the next burst, which excludes
    the phase-lock by construction.  Pass a float ``linger_s`` to pin
    it; before enough history accrues, auto uses the measured r10
    default (0.1 s).  Chosen values land in ``lingers_used``.

    ``submit`` BLOCKS until the caller's batch is durably committed —
    that is what keeps foreachBatch's effectively-once contract intact:
    Spark only checkpoints a micro-batch after ``write_batch`` returns,
    so a crash replays exactly the batches whose commits had not
    landed (and the store's dedup makes the replay idempotent).  A
    failed group propagates its exception to every submitter in it."""

    def __init__(
        self,
        store: ManifestStore,
        mode: str = "streaming",
        linger_s: float | str = "auto",
        max_group: int = 64,
    ):
        from collections import deque

        self.store = store
        self.mode = mode
        self.linger_s = linger_s
        self.max_group = max_group
        self._lock = threading.Lock()
        self._queue: list[dict] = []
        self._leading = False
        #: submit arrival times (monotonic), bounded — the linger
        #: auto-tune's measurement window
        self._arrivals: deque = deque(maxlen=65)
        #: commit-shape telemetry: list of group sizes actually committed
        self.groups_committed: list[int] = []
        #: linger telemetry: the value each leader actually slept
        self.lingers_used: list[float] = []

    def _resolve_linger(self) -> float:
        if not isinstance(self.linger_s, str):
            return float(self.linger_s)
        from stock_ops_spark.plans.sizing import commit_linger_s

        with self._lock:
            arr = list(self._arrivals)
        return commit_linger_s([b - a for a, b in zip(arr, arr[1:])])

    def submit(self, batch_df: DataFrame, mode: str | None = None) -> int:
        from stock_ops_spark.plans.sizing import commit_group_size

        if mode is not None and mode != self.mode:
            raise ValueError("one coordinator coalesces one table mode")
        entry = {"df": batch_df, "done": threading.Event(), "n": None,
                 "err": None}
        with self._lock:
            self._arrivals.append(time.monotonic())
            self._queue.append(entry)
        while True:
            with self._lock:
                lead = not self._leading
                if lead:
                    self._leading = True
            if not lead:
                # follower: wake periodically in case the leader exited
                # between our enqueue and its drain
                entry["done"].wait(timeout=0.05)
                if entry["done"].is_set():
                    break
                continue
            try:
                linger = self._resolve_linger()
                self.lingers_used.append(linger)
                time.sleep(linger)
                with self._lock:
                    g = commit_group_size(len(self._queue), cap=self.max_group)
                    take, self._queue = self._queue[:g], self._queue[g:]
                if take:
                    try:
                        ns = self.store.ingest_group(
                            [t["df"] for t in take], self.mode
                        )
                        self.groups_committed.append(len(take))
                        for t, n in zip(take, ns):
                            t["n"] = n
                    except Exception as e:  # noqa: BLE001 — propagate to owners
                        for t in take:
                            t["err"] = e
                    finally:
                        for t in take:
                            t["done"].set()
            finally:
                with self._lock:
                    self._leading = False
            if entry["done"].is_set():
                break
        if entry["err"] is not None:
            raise entry["err"]
        return entry["n"]


def stream_ingest(
    stream: DataFrame,
    store: ManifestStore,
    mode: str = "streaming",
    checkpoint: str | None = None,
    trigger_seconds: int = 10,
    available_now: bool = False,
    coordinator: GroupCommitCoordinator | None = None,
) -> StreamingQuery:
    """Attach the batch writer (with full dedup/version semantics) to a
    streaming DataFrame via foreachBatch.  Pass a shared
    ``coordinator`` when several streams feed ONE store: their
    micro-batches group-commit (see ``GroupCommitCoordinator``) instead
    of each paying the per-commit fixed cost; with a single stream the
    queue never exceeds one batch, so the coordinator degrades to the
    plain path (group of 1 == ``ingest_batch``)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness job first: the store's probe of the batch is the
        # one job a micro-batch runs, and an empty one commits nothing
        if coordinator is not None:
            coordinator.submit(batch_df, mode)
        else:
            store.ingest_batch(batch_df, mode)

    writer = stream.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def file_trade_source(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File streaming source of normalized STREAMING-schema records —
    the WebSocket stand-in (json lines, one file ≈ one socket burst)."""
    return (
        spark.readStream.schema(STREAMING)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def streaming_bars(
    trades: DataFrame,
    bar: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST3 upgrade: derive OHLCV bars from a trade stream with a
    watermarked tumbling window.  first/last by event time are expressed
    with min_by/max_by over the window aggregate."""
    with_ts = trades.withColumn("ts", F.timestamp_millis(F.col("timestamp_UTC_ms")))
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy(F.col("ticker"), F.window("ts", bar).alias("w"))
        .agg(
            F.min_by("price", "ts").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", "ts").alias("close"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            "ticker",
            F.col("w.start").alias("bar_start"),
            F.col("w.end").alias("bar_end"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def socket_trade_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S2 live WebSocket parity via Spark's built-in socket source: one
    JSON frame per line → parsed against the STREAMING schema.

    The reference's reconnect/backoff loop (eodhd_streaming_service.py:
    160-175) is the connector's concern; Spark restarts the source on
    failure and the checkpoint resumes the offset, so the engine-side
    contract is identical to the file stand-in.  Malformed frames parse to
    NULL and are dropped (P2 as a filter).
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            STREAMING,
        ).alias("r")
    )
    return parsed.select("r.*").where(
        F.col("ticker").isNotNull() & F.col("timestamp_UTC_ms").isNotNull()
    )
