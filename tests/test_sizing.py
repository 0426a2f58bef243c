"""plans/sizing.py: the rules' bounds, monotonicity, and the 100 TB shape."""

import os

from stock_ops_spark.plans.sizing import (
    GB,
    MB,
    ClusterShape,
    broadcast_threshold_bytes,
    bucket_count,
    ivf_cells,
    max_partition_bytes,
    recommend,
    shuffle_partitions,
    streaming_state_partitions,
    watermark_delay_seconds,
)

BIG = ClusterShape(n_executors=1000, cores_per_executor=8, mem_per_executor_bytes=64 * GB)
SMALL = ClusterShape(n_executors=1, cores_per_executor=32, mem_per_executor_bytes=128 * GB)


def test_100tb_shuffle_partition_count():
    # 100 TB input, half survives to the shuffle → ~400k partitions of
    # 128 MB; the core floor (16k) is far below — bytes dominate
    n = shuffle_partitions(50 * 1024 * GB, BIG)
    assert n == -(-50 * 1024 * GB // (128 * MB))
    assert n > 2 * BIG.total_cores


def test_small_shuffle_floor_is_cores():
    # tiny shuffle on a big cluster: keep every core busy, 2x for overlap
    assert shuffle_partitions(1 * GB, BIG) == 2 * BIG.total_cores


def test_skew_inflates_partition_count():
    base = shuffle_partitions(10 * 1024 * GB, BIG)
    skewed = shuffle_partitions(10 * 1024 * GB, BIG, skew_index=4.0)
    assert skewed == 4 * base


def test_scan_split_clamps():
    # BIG: 64 GB / 8 cores = 8 GB/core → 1 GB split → upper clamp 512 MB
    assert max_partition_bytes(BIG) == 512 * MB
    tiny = ClusterShape(2, 4, 1 * GB)
    assert max_partition_bytes(tiny) == 32 * MB  # lower clamp


def test_broadcast_threshold_clamps():
    assert 10 * MB <= broadcast_threshold_bytes(BIG) <= 1 * GB
    assert broadcast_threshold_bytes(SMALL) == min(128 * GB // 16, 1 * GB)


def test_state_partitions_scale_with_keys():
    few = streaming_state_partitions(10_000, 1024, SMALL)
    many = streaming_state_partitions(1_000_000_000, 1024, SMALL)
    assert few == 2 * SMALL.total_cores
    assert many >= 1_000_000_000 * 1024 // (256 * MB)


def test_watermark_covers_p99_with_safety():
    assert watermark_delay_seconds(30.0) == 60
    assert watermark_delay_seconds(0.0) == 1  # never zero


def test_recommend_bundle_keys_and_aqe():
    conf = recommend(100 * 1024 * GB, BIG, skew_index=2.0)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.shuffle.partitions"]) > 100_000
    assert int(conf["spark.sql.files.maxPartitionBytes"]) >= 32 * MB


def test_bucket_count_100tb_is_bytes_bound_power_of_two():
    # 60 TB larger fact at 512 MB/bucket → ~122880 → next pow2 131072
    n = bucket_count(60 * 1024 * GB, BIG)
    assert n == 131072
    assert n & (n - 1) == 0


def test_bucket_count_small_floor_is_cores_pow2():
    # tiny table on the 32-core box: floor = 2*32 = 64 (already pow2)
    assert bucket_count(1 * GB, SMALL) == 64


def test_bucket_count_monotone_in_bytes():
    a = bucket_count(1 * 1024 * GB, BIG)
    b = bucket_count(2 * 1024 * GB, BIG)
    assert b >= a


def test_ivf_cells_sqrt_rule():
    assert ivf_cells(10_000) == 128          # sqrt=100 → pow2 128
    assert ivf_cells(1_000_000) == 1024
    assert ivf_cells(100) == 16              # floor
    assert ivf_cells(10**22) == 1 << 18      # ceiling


def test_vacuum_retain_rule():
    from stock_ops_spark.plans.sizing import vacuum_retain

    # batch cadence: 24 commits/day, 7-day travel -> 168, above the floor
    assert vacuum_retain(24) == 168
    # streaming cadence: 10s triggers want 60480 but the fold budget caps
    assert vacuum_retain(8640) == 2500
    # tiny stores never drop below the 8-version floor
    assert vacuum_retain(0.5) == 8
    # raising the budget raises the cap
    assert vacuum_retain(8640, fold_budget_ms=2000.0) == 60480


def test_lsh_max_bucket_rule():
    from stock_ops_spark.plans.sizing import lsh_max_bucket

    # healthy corpus: largest bucket under the cap -> no cap at all
    assert lsh_max_bucket(p99_bucket=3, max_bucket=20) is None
    # hot-bucket pathology: cap at headroom x p99, floored
    assert lsh_max_bucket(p99_bucket=3, max_bucket=5000) == 64  # floor
    assert lsh_max_bucket(p99_bucket=40, max_bucket=5000) == 320
    # the measured sf10 regime: p99 ~ 30, max ~ thousands -> cap ~ 240
    cap = lsh_max_bucket(p99_bucket=30, max_bucket=4000)
    assert 64 <= cap <= 512 and cap < 4000
    # degenerate inputs stay sane
    assert lsh_max_bucket(p99_bucket=0, max_bucket=10**6) == 64


def test_ivf_nprobe_rule():
    import pytest

    from stock_ops_spark.plans.sizing import ivf_nprobe

    curve = [(1, 0.42), (2, 0.71), (4, 0.93), (8, 0.99)]
    # smallest measured point meeting the target
    assert ivf_nprobe(0.7, curve) == 2
    assert ivf_nprobe(0.9, curve) == 4
    assert ivf_nprobe(0.99, curve) == 8
    # boundary: exactly-met recall counts
    assert ivf_nprobe(0.42, curve) == 1
    # unreachable target: largest measured * 2 (re-measure signal)
    assert ivf_nprobe(0.999, curve) == 16
    # unsorted input is sorted internally
    assert ivf_nprobe(0.9, list(reversed(curve))) == 4
    with pytest.raises(ValueError):
        ivf_nprobe(0.9, [])
    with pytest.raises(ValueError):
        ivf_nprobe(0.0, curve)
    with pytest.raises(ValueError):
        ivf_nprobe(1.5, curve)


def test_compact_cadence_rule():
    import pytest

    from stock_ops_spark.plans.sizing import compact_cadence

    # sqrt balance: K* = sqrt(2 * (n/1e5) / 0.05) at the defaults
    assert compact_cadence(0) == 8            # empty store: floor
    assert compact_cadence(100_000) == 8      # sqrt(40)=6.3 -> floor 8
    assert compact_cadence(1_000_000) == 20   # sqrt(400)
    assert compact_cadence(100_000_000) == 200
    assert compact_cadence(10**12) == 256     # ceiling
    # monotone in store size
    ks = [compact_cadence(n) for n in (1, 10**5, 10**6, 10**8, 10**10)]
    assert ks == sorted(ks)
    # heavier read traffic -> compact more often
    assert compact_cadence(10**8, reads_per_commit=16.0) < compact_cadence(
        10**8, reads_per_commit=1.0
    )
    # faster rewrites -> compact more often
    assert compact_cadence(
        10**8, rewrite_rows_per_s=1e6
    ) < compact_cadence(10**8, rewrite_rows_per_s=1e5)
    with pytest.raises(ValueError):
        compact_cadence(-1)


def test_lsh_bands_rule():
    import pytest

    from stock_ops_spark.plans.sizing import lsh_bands

    # the repo default (16 bands x 4 rows) is exactly what the rule
    # picks for the q21 contract: planted >=0.9 pairs at >=0.99 recall
    b, r, rec = lsh_bands(0.9, 0.99, 64)
    assert (b, r) == (16, 4) and rec > 0.99
    # lower threshold needs more bands (smaller r) for the same recall
    b2, r2, rec2 = lsh_bands(0.5, 0.9, 64)
    assert r2 < 4 and b2 > 16 and rec2 >= 0.9
    # higher recall target never picks a larger r
    assert lsh_bands(0.8, 0.999, 64)[1] <= lsh_bands(0.8, 0.9, 64)[1]
    # unreachable target: fall back to r=1 (max recall)
    b3, r3, _ = lsh_bands(0.05, 0.99, 64)
    assert r3 == 1 and b3 == 64
    with pytest.raises(ValueError):
        lsh_bands(0.0, 0.9)
    with pytest.raises(ValueError):
        lsh_bands(0.5, 1.0)


# --- session: local-mode driver heap sizing (r11 session fix) ---------------


def test_default_driver_memory_env_override(monkeypatch):
    from stock_ops_spark.session import _default_driver_memory

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _default_driver_memory() == "3g"


def test_default_driver_memory_quarter_of_ram_clamped(monkeypatch):
    from stock_ops_spark import session as S

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = S._default_driver_memory()
    assert got.endswith("g")
    n = int(got[:-1])
    # deterministic rule: MemTotal/4 clamped to [8, 48]
    with open("/proc/meminfo") as f:
        total_gb = next(
            int(line.split()[1]) // (1024 * 1024)
            for line in f
            if line.startswith("MemTotal:")
        )
    assert n == min(max(total_gb // 4, 8), 48)


def test_session_disables_leaky_checkpoint_checksum(spark):
    # Spark 4.1.2 leaks the 64-thread ChecksumCheckpointFileManager pool
    # per streaming-query run; the session default turns the checksum
    # manager off (detection only — commit atomicity is unaffected).
    assert (
        spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
        == "false"
    )
    # the cleaner interval is Spark's default unless the deployment asks
    if not os.environ.get("SPARK_GRAFT_PERIODIC_GC"):
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.cleaner.periodicGC.interval") is None


def test_periodic_gc_conf_only_when_env_set(spark, monkeypatch):
    from pyspark.sql import SparkSession

    from stock_ops_spark.session import get_spark

    built: list[dict] = []

    def capture(builder):
        built.append(dict(builder._options))
        return spark  # the live session: no second context

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.delenv("SPARK_GRAFT_PERIODIC_GC", raising=False)
    get_spark("t", master="local[1]")
    monkeypatch.setenv("SPARK_GRAFT_PERIODIC_GC", "5min")
    get_spark("t", master="local[1]")
    assert "spark.cleaner.periodicGC.interval" not in built[0]
    assert built[1]["spark.cleaner.periodicGC.interval"] == "5min"
