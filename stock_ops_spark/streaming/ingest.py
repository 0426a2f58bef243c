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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stock_ops_spark.schemas import STREAMING
from stock_ops_spark.sources.commitlog import ManifestStore


def stream_ingest(
    stream: DataFrame,
    store: ManifestStore,
    mode: str = "streaming",
    checkpoint: str | None = None,
    trigger_seconds: int = 10,
    available_now: bool = False,
) -> StreamingQuery:
    """Attach the batch writer (with full dedup/version semantics) to a
    streaming DataFrame via foreachBatch: each micro-batch is one
    ``store.ingest_batch`` commit.  Several streams may feed ONE store;
    each commits its own micro-batches and the commit loop's rebase path
    keeps them live (``ManifestStore.ingest_batch``), so batch size is
    set only by the trigger and ``maxFilesPerTrigger``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness job first: the store's probe of the batch is the
        # one job a micro-batch runs, and an empty one commits nothing
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
