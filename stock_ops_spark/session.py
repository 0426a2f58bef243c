"""SparkSession builder tuned for this engine.

Design notes (100 TB posture)
-----------------------------
- Session timezone pinned to UTC: every event-time column is stored as UTC
  and converted to exchange-local time explicitly with
  ``from_utc_timestamp`` (mirrors the reference's epoch-UTC storage,
  reference ``src/stockops/data/utils.py:102-145``).
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy demotion are exactly the knobs that keep the same
  plan healthy from sf0.001 (6k rows) to 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to a small value locally; on a
  real cluster AQE's coalescing makes the initial number mostly irrelevant
  as long as it is high enough, so we expose it as an argument.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Size the local-mode driver heap from the machine, not a constant.

    In ``local[N]`` the driver JVM hosts every executor thread, every
    broadcast, every ``localCheckpoint`` block and all shuffle tracking
    for the whole session.  The old fixed ``8g`` default starved
    multi-query sessions: a 333-query bench session accumulates
    broadcasts/blocks between context-cleaner GCs, and the r11 baseline
    showed 10-30 s full-GC waves hitting the DECIMAL(38)-heavy queries
    (q243/q244/q245/q278 inflated 6-17x vs their standalone runs while
    plans were unchanged — measurement in OPTIMIZATION_r11.md).  Guide
    §5: size memory to the workload.  Deterministic rule: 1/4 of
    MemTotal, clamped to [8g, 48g]; ``SPARK_DRIVER_MEMORY`` still
    overrides (cluster deployments size executors explicitly and are
    unaffected — this default only matters for the local-mode driver).
    """
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    total_gb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except (OSError, ValueError, IndexError):
        pass
    if total_gb <= 0:
        return "8g"
    return f"{min(max(total_gb // 4, 8), 48)}g"


#: Streaming state-store providers.  The default (HDFS-backed) keeps all
#: state on the executor heap with an HDFS snapshot — fine for bounded
#: demo state, fatal when stream-stream join state reaches 100 TB-scale
#: cardinalities.  RocksDB spills state off-heap to local disk with
#: incremental checkpointing and is the survivable provider at scale.
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def get_spark(
    app_name: str = "stock_ops_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters are overridable for tests/bench; defaults come from env:
    ``SPARK_GRAFT_CPUS`` (local parallelism) is respected when no master is
    given.  ``state_store`` (or env ``SPARK_GRAFT_STATE_STORE``) selects the
    streaming state-store provider: ``"rocksdb"`` for large-state
    deployments, ``"hdfs"`` (Spark's default) otherwise.  The conf is a
    runtime SQL conf read at stream start, so it also applies when the
    session already exists.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_str = os.environ.get("SPARK_GRAFT_CPUS", "32")
        try:
            shuffle_partitions = max(int(cpus_str), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Untagged TIMESTAMP(MICROS) parquet (isAdjustedToUTC absent) would
        # otherwise be inferred as TIMESTAMP_NTZ on Spark 4.1+, forking the
        # engine's timestamp type by file encoding.  catalog.normalize_ts is
        # the load-path fix; this is defense-in-depth for raw reads.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
        # spark.cleaner.periodicGC.interval stays at Spark's default
        # (30min).  The r11 5-minute override shipped as an unverified
        # rider on the heap fix; the r12 isolated A/B (three alternating
        # full-bench runs, with/without — OPTIMIZATION_r12.md) found no
        # effect outside box noise, so per the accretion rule the
        # non-default is dropped.  Deployments that churn enough blocks
        # for cleaner lag to matter can set SPARK_GRAFT_PERIODIC_GC.
        # Spark 4.1's checkpoint-file checksums (corruption DETECTION,
        # new in 4.x; atomic-rename commit semantics are unaffected)
        # leak their 64-thread ChecksumCheckpointFileManager pool on
        # every streaming-query run in 4.1.2: measured 448 parked
        # threads after 7 availableNow queries, 896 after 14, never
        # reaped after termination.  Any long-lived session that churns
        # streaming queries (exactly this engine's cron/drain posture)
        # grows without bound.  Default off — the pre-4.x posture —
        # overridable for deployments that want detection and accept
        # the leak (SPARK_GRAFT_CKPT_CHECKSUM=true).
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CKPT_CHECKSUM", "false"),
        )
        # Output commit: v2 commits task files straight to the final dir
        # (one rename per file instead of two) and we skip the _SUCCESS
        # marker nobody reads.  Halving the metadata ops matters here
        # because commit-heavy paths (ManifestStore batch dirs) write
        # many small files, and the sandbox's ext4 is
        # mounted with `discard` — every create/rename/delete can stall
        # on the virtio disk (measured: q316 e2e 14.1/12.8 s v1 vs
        # 13.3/11.4 s v2, same session, alternating).  Crash model is
        # unchanged: manifest commits make batch dirs visible atomically,
        # so v2 partials are invisible debris.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    pgc = os.environ.get("SPARK_GRAFT_PERIODIC_GC")
    if pgc:
        builder = builder.config("spark.cleaner.periodicGC.interval", pgc)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    if state_store is None:
        state_store = os.environ.get("SPARK_GRAFT_STATE_STORE")
    # validate BEFORE getOrCreate so a bad value cannot leave a live
    # session behind as a side effect of a failed call
    provider = None
    if state_store:
        try:
            provider = STATE_STORE_PROVIDERS[state_store.lower()]
        except KeyError:
            raise ValueError(
                f"unknown state_store {state_store!r}; "
                f"choose from {sorted(STATE_STORE_PROVIDERS)}"
            ) from None
    spark = builder.getOrCreate()
    if provider:
        # runtime SQL conf, read when each streaming query starts — works on
        # a pre-existing session too (getOrCreate ignores builder confs then)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    # Python workers must be able to import this package even when the
    # driver found it via a sys.path insert (foreign cwd — the grading
    # driver contract); idempotent, ~ms. See stock_ops_spark/shipping.py.
    from stock_ops_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(spark)
    return spark
