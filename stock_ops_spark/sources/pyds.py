"""Spark 4 Python DataSource connectors — the executor-side S1/S2 twins.

``run_historical_task`` (sources/services.py) fetches on the DRIVER and
``createDataFrame``s the payload — correct for one request, the wrong
shape for a 5000-ticker × 10-year backfill, where the driver becomes a
serial HTTP client holding every payload.  ``stockops_rest`` moves the
fetch to EXECUTORS through the Python DataSource API: one
InputPartition per ticker, each partition calling the registered
provider's fetch under the same bounded-retry envelope
(sources/resilience.py), so a backfill parallelizes across the cluster
and no payload ever transits the driver.  Reference twin: the
per-ticker REST loop in eodhd_historical_service.py:79-158.

``stockops_frames`` is the streaming side: it replays a provider
WebSocket frame log (jsonl, one frame per line — the same file
stand-in as streaming/ingest.py) through SimpleDataSourceStreamReader
with LINE-NUMBER OFFSETS.  Offsets land in the streaming checkpoint,
so a restarted query resumes from the committed line — exactly-once
source progression, with the store's idempotent dedup as the
effectively-once backstop.  Reference twin:
eodhd_streaming_service.py:206-266 (socket frame loop + resume).

``stockops_cdc`` streams a ``ManifestStore``'s change feed with commit
versions as offsets.  Its reader runs in Spark's Python streaming-source
worker and reads the store's log through ``sources/commitlog.py``: the
change planner and piece reader ``ManifestStore.read_changes`` uses.

The sources register with ``register_data_sources(spark)`` and read via
``spark.read.format("stockops_rest")`` /
``spark.readStream.format("stockops_frames")`` /
``spark.readStream.format("stockops_cdc")`` — plan-level sources,
prunable and AQE-visible, not driver loops.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# computed on the driver at reader construction and re-inserted into
# sys.path inside the executor-side read(): local python workers do not
# inherit a runtime-patched driver sys.path (cluster deployments ship
# the package and never hit the fallback)
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_INTERDAY_SCHEMA = (
    "ticker string, date string, open double, high double, low double, "
    "close double, adjusted_close double, volume long, interval string"
)
_INTRADAY_SCHEMA = (
    "ticker string, timestamp long, open double, high double, low double, "
    "close double, volume long, interval string"
)
_FRAMES_SCHEMA = (
    "ticker string, timestamp_UTC_ms long, price double, volume long, "
    "ask_price double, bid_price double, ask_size long, bid_size long"
)

_INTERDAY_INTERVALS = ("d", "w", "m")


class RestHistoricalDataSource(DataSource):
    """Batch source: provider REST bars, one partition per ticker.

    Options: ``provider`` (registry name), ``tickers`` (csv),
    ``exchange``, ``interval``, ``start``, ``end``; optional
    ``retries``/``backoff_s`` wrap the fetch in the resilience policy.
    """

    @classmethod
    def name(cls) -> str:
        return "stockops_rest"

    def schema(self) -> str:
        interval = self.options.get("interval", "1h")
        return (
            _INTERDAY_SCHEMA
            if interval in _INTERDAY_INTERVALS
            else _INTRADAY_SCHEMA
        )

    def reader(self, schema) -> "RestHistoricalReader":
        return RestHistoricalReader(dict(self.options))


class RestHistoricalReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options
        self.repo_root = _REPO_ROOT
        tickers = options.get("tickers", "")
        self.tickers = [t for t in tickers.split(",") if t]
        if not self.tickers:
            raise ValueError("stockops_rest requires a non-empty 'tickers' option")

    def partitions(self):  # one fetch task per ticker — the scale unit
        return [InputPartition(t) for t in self.tickers]

    def read(self, partition) -> Iterator[tuple]:
        import sys

        if self.repo_root not in sys.path:  # local python workers
            sys.path.insert(0, self.repo_root)
        from stock_ops_spark.sources import providers as P
        from stock_ops_spark.sources import resilience as R

        opts = self.options
        ticker = partition.value
        provider = P.get(opts.get("provider", "EODHD-mock"))
        if provider.fetch_historical is None:
            raise ValueError(f"provider {provider.name!r} has no historical fetcher")
        exchange = opts.get("exchange", "US")
        interval = opts.get("interval", "1h")
        start, end = opts.get("start", ""), opts.get("end", "")
        retries = int(opts.get("retries", "0"))
        if retries > 0:
            rows = R.fetch_with_retry(
                provider.fetch_historical,
                ticker,
                exchange,
                interval,
                start,
                end,
                policy=R.RetryPolicy(
                    retries=retries,
                    base_backoff=float(opts.get("backoff_s", "0.1")),
                ),
                fallback=provider.fetch_fallback,
            )
        else:
            rows = provider.fetch_historical(ticker, exchange, interval, start, end)

        interday = interval in _INTERDAY_INTERVALS
        for r in rows:
            if interday:
                yield (
                    ticker,
                    r.get("date"),
                    r.get("open"),
                    r.get("high"),
                    r.get("low"),
                    r.get("close"),
                    r.get("adjusted_close"),
                    r.get("volume"),
                    interval,
                )
            else:
                yield (
                    ticker,
                    r.get("timestamp"),
                    r.get("open"),
                    r.get("high"),
                    r.get("low"),
                    r.get("close"),
                    r.get("volume"),
                    interval,
                )


class FrameLogDataSource(DataSource):
    """Streaming source: replay a provider frame log (jsonl) with
    line-number offsets.

    Options: ``path`` (the frame log), ``stream_type``
    (``trades``/``quotes``), ``batch_lines`` (max frames per
    micro-batch, default 1000).  Trade frames {s,t,p,v} and quote
    frames {s,t,ap,bp,as,bs} map to the STREAMING shape exactly as
    sources/transform.py does for DataFrames; malformed lines are
    skipped (P2 as a filter), never fatal.
    """

    @classmethod
    def name(cls) -> str:
        return "stockops_frames"

    def schema(self) -> str:
        return _FRAMES_SCHEMA

    def simpleStreamReader(self, schema) -> "FrameLogStreamReader":
        return FrameLogStreamReader(dict(self.options))


def _frame_to_row(frame: dict, stream_type: str) -> tuple | None:
    """Python mirror of transform.trades/quotes (required keys s, t)."""
    if frame.get("s") is None or frame.get("t") is None:
        return None
    if stream_type == "quotes":
        return (
            str(frame["s"]),
            int(frame["t"]),
            None,
            None,
            frame.get("ap"),
            frame.get("bp"),
            frame.get("as"),
            frame.get("bs"),
        )
    return (
        str(frame["s"]),
        int(frame["t"]),
        frame.get("p"),
        frame.get("v"),
        None,
        None,
        None,
        None,
    )


class FrameLogStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("stockops_frames requires a 'path' option")
        self.stream_type = options.get("stream_type", "trades")
        self.batch_lines = int(options.get("batch_lines", "1000"))

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _read_range(self, start_line: int, max_lines: int | None):
        rows, line = [], 0
        with open(self.path) as f:
            for raw in f:
                if line >= start_line:
                    if max_lines is not None and line - start_line >= max_lines:
                        break
                    raw = raw.strip()
                    if raw:
                        try:
                            row = _frame_to_row(json.loads(raw), self.stream_type)
                        except (ValueError, TypeError):
                            row = None  # malformed frame: skip, don't kill
                        if row is not None:
                            rows.append(row)
                line += 1
        return rows, line

    def read(self, start: dict):
        rows, end_line = self._read_range(start["line"], self.batch_lines)
        return iter(rows), {"line": max(start["line"], end_line)}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._read_range(start["line"], end["line"] - start["line"])
        return iter(rows)

    def commit(self, end: dict) -> None:  # offsets live in the checkpoint
        pass


def register_data_sources(spark) -> None:
    """Idempotently register the sources with a session."""
    for cls in (
        RestHistoricalDataSource,
        FrameLogDataSource,
        ManifestCDCDataSource,
    ):
        try:
            spark.dataSource.register(cls)
        except Exception:  # already registered under this name
            pass


# ---------------------------------------------------------------------------
# ManifestStore CDC as a streaming source (Delta streaming-source parity)
# ---------------------------------------------------------------------------


def _cdc_schema_ddl(mode: str) -> str:
    from stock_ops_spark import schemas as S
    from stock_ops_spark.sources.layout import PARTITION_COLS

    cols = [(f.name, f.dataType.simpleString()) for f in S.SCHEMAS[mode].fields]
    cols.append(("version", "bigint"))
    cols += [(p, "int") for p in PARTITION_COLS[mode]]
    cols += [("_change_type", "string"), ("_commit_version", "bigint")]
    return ", ".join(f"{n} {t}" for n, t in cols)


class ManifestCDCDataSource(DataSource):
    """Streaming source over a ``ManifestStore`` change feed with COMMIT
    VERSIONS as offsets — the Delta-streaming-source twin: every
    downstream consumer (index refresh, replication, MV maintenance)
    becomes an exactly-once stream whose cursor lives in the Spark
    checkpoint, not in consumer-managed state.

    Options: ``store_root`` (the ManifestStore root), ``mode``,
    ``provider``/``exchange`` (layout, defaults EODHD/US).  Each
    micro-batch drains commits (start, latest] — a deterministic replay
    of the store's log, planned by the same ``change_pieces`` and read
    by the same ``change_piece_arrow`` as ``ManifestStore.read_changes``
    (``sources/commitlog.py``), so a cursor below the vacuum horizon or
    across a retention recorded without row changes raises the same
    ``VacuumedVersion`` / ``ChangeFeedGap`` rather than silently
    skipping history.  The schema is the mode's declared columns plus
    ``version``, the partition columns, ``_change_type`` and
    ``_commit_version``: a column that exists only because the store's
    schema evolved is not streamed."""

    @classmethod
    def name(cls) -> str:
        return "stockops_cdc"

    def schema(self) -> str:
        return _cdc_schema_ddl(self.options.get("mode", "streaming"))

    def simpleStreamReader(self, schema) -> "ManifestCDCStreamReader":
        return ManifestCDCStreamReader(dict(self.options))


class ManifestCDCStreamReader(SimpleDataSourceStreamReader):
    """Runs in Spark's Python streaming-source worker, a process of its
    own: it opens the store's log as a ``ManifestLog`` and reads every
    piece of a span on the driver, whole (no row bound), through
    ``change_piece_arrow`` — a piece that reader declines raises, it is
    never skipped."""

    def __init__(self, options: dict):
        root = options.get("store_root")
        if not root:
            raise ValueError("stockops_cdc requires a 'store_root' option")
        self.mode = options.get("mode", "streaming")
        from stock_ops_spark import schemas as S
        from stock_ops_spark.sources.commitlog import store_log
        from stock_ops_spark.sources.layout import PARTITION_COLS, mode_root

        self.data_root = mode_root(
            root,
            self.mode,
            options.get("provider", "EODHD"),
            options.get("exchange", "US"),
        )
        self.log = store_log(self.data_root)
        self.parts = PARTITION_COLS[self.mode]
        self.cols = (
            [f.name for f in S.SCHEMAS[self.mode].fields]
            + ["version"]
            + self.parts
            + ["_change_type", "_commit_version"]
        )

    def initialOffset(self) -> dict:
        return {"version": 0}

    def _drain(self, start_v: int, end_v: int):
        """The rows of commits (``start_v``, ``end_v``], column-wise in
        the schema's order."""
        from stock_ops_spark.sources.commitlog import (
            change_piece_arrow,
            change_pieces,
        )

        cols = {c: [] for c in self.cols}
        for piece in change_pieces(self.log, start_v, end_v):
            tbl = change_piece_arrow(self.data_root, self.parts, piece)
            if tbl is None:
                raise ValueError(
                    f"stockops_cdc cannot read commit {piece[0]} of "
                    f"{self.data_root} on the driver"
                )
            for c, vals in cols.items():
                vals += (
                    tbl[c].to_pylist() if c in tbl.column_names
                    else [None] * tbl.num_rows
                )
        return zip(*cols.values())

    def read(self, start: dict):
        latest = self.log.version()
        if latest <= start["version"]:
            return iter([]), start
        return self._drain(start["version"], latest), {"version": latest}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._drain(start["version"], end["version"])

    def commit(self, end: dict) -> None:  # offsets live in the checkpoint
        pass
