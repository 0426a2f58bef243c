"""Cluster-configuration sizing from measured data profiles.

The registry's diagnostic queries measure the inputs (q152/q173 table
profiles and key skew, q180 watermark lateness, q181 streaming state
size); this module turns those numbers plus the cluster shape into the
Spark conf a 100 TB run needs.  Every rule is arithmetic over measured
values — no magic constants without a stated reason.

Reference parity: the reference engine ships fixed single-writer tuning
(/root/reference/src/stockops/data — one process, in-memory buffers);
on Spark the same decisions become partition/broadcast/state sizing,
which is what this module computes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

MB = 1024 * 1024
GB = 1024 * MB


@dataclass(frozen=True)
class ClusterShape:
    n_executors: int
    cores_per_executor: int
    mem_per_executor_bytes: int

    @property
    def total_cores(self) -> int:
        return self.n_executors * self.cores_per_executor

    @property
    def mem_per_core_bytes(self) -> int:
        return self.mem_per_executor_bytes // max(self.cores_per_executor, 1)


def shuffle_partitions(
    shuffle_bytes: int,
    cluster: ClusterShape,
    target_partition_bytes: int = 128 * MB,
    skew_index: float = 1.0,
) -> int:
    """Partitions for a shuffle of ``shuffle_bytes``.

    Three constraints, take the max:
    - every core gets work: >= 2 x total cores (2x so stragglers overlap)
    - partitions fit the per-task memory budget: shuffle_bytes / target
      (128 MB default: spill threshold comfortably under a multi-GB/core
      executor while keeping task-launch overhead amortized)
    - skew headroom: a skew index s (q173: sum(n^2)·K/T^2, 1 = uniform)
      inflates the hottest partition ~s-fold, so scale count by s before
      AQE's runtime split has to save the job.
    """
    by_cores = 2 * cluster.total_cores
    by_bytes = -(-shuffle_bytes // target_partition_bytes)  # ceil
    return max(by_cores, int(by_bytes * max(skew_index, 1.0)), 1)


def bucket_count(
    larger_table_bytes: int,
    cluster: ClusterShape,
    target_bucket_bytes: int = 512 * MB,
) -> int:
    """Bucket count for a bucketed-twin pair (sources/bucketing.py).

    Buckets are the PERMANENT parallel floor of every co-located join
    on the key, so size them from the LARGER fact at its projected
    full scale, not today's sample:

    - one bucket of the larger table should stay scannable by one core
      (512 MB default — bigger than a shuffle partition because a
      bucketed scan streams from disk instead of materializing a
      shuffle block in memory);
    - at least 2x total cores so a full-table join saturates the
      cluster with straggler overlap;
    - both join sides MUST use the same count, so compute it once from
      the larger side and reuse.

    Unlike shuffle partitions, this cannot be AQE-coalesced later —
    re-bucketing is a full rewrite — so round UP to the next power of
    two, which also lets a future 2x growth split buckets without
    rehashing everything (bucket b of 2N = buckets {b, b+N} of N under
    hash-mod).
    """
    by_cores = 2 * cluster.total_cores
    by_bytes = -(-larger_table_bytes // target_bucket_bytes)  # ceil
    n = max(by_cores, by_bytes, 1)
    p2 = 1
    while p2 < n:
        p2 *= 2
    return p2


def ivf_cells(n_vectors: int) -> int:
    """IVF cell count for an ANN index over ``n_vectors`` embeddings.

    The measured curve (SCALE_CURVES.json `ivf_ann`) shows why this
    cannot be a constant: with fixed k, probe cost is |Q| x N/k and the
    top scale interval ran at exponent ~1.3.  Balancing coarse-quantizer
    cost (~k per query) against cell-scan cost (~N/k per probed cell)
    gives the standard k = sqrt(N) rule — both terms then grow as
    sqrt(N).  Clamped to [16, 1<<18] and rounded to a power of two so
    cell ids pack and the centroid broadcast stays bounded (1e11
    vectors → 256k centroids ≈ 64 MB at d=64 float32 — still a
    broadcast, as SCALING.md requires)."""
    import math

    k = int(math.sqrt(max(n_vectors, 1)))
    k = max(16, min(k, 1 << 18))
    p2 = 1
    while p2 < k:
        p2 *= 2
    return p2


def lsh_bands(
    threshold: float,
    target_recall: float = 0.95,
    num_hashes: int = 64,
) -> tuple[int, int, float]:
    """(bands, rows_per_band, predicted_recall) for a minhash-LSH index
    that must catch Jaccard ≥ ``threshold`` pairs with probability ≥
    ``target_recall``.

    A pair with similarity s collides in one r-row band with
    probability s^r, so across b = num_hashes/r independent bands
    recall(s) = 1 − (1 − s^r)^b — the standard S-curve (Leskovec/
    Rajaraman/Ullman ch. 3).  Cost story: SMALLER r (more bands) raises
    recall but flattens the curve, letting low-similarity pairs flood
    the candidate join; LARGER r sharpens the cutoff and shrinks the
    banded index.  This rule picks the LARGEST divisor r of num_hashes
    whose predicted recall at ``threshold`` still meets the target —
    the cheapest configuration that keeps the promise.  Falls back to
    r=1 (maximum recall) when even that misses the target (raise
    num_hashes).  Companion of ``lsh_max_bucket`` (which guards the
    same join against hot buckets) and the measured-curve discipline of
    ``ivf_nprobe`` — here the closed form IS exact for the collision
    model, so the test validates the formula against a measured run
    instead of replacing it."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    divisors = [r for r in range(1, num_hashes + 1) if num_hashes % r == 0]
    best = None
    for r in divisors:
        b = num_hashes // r
        recall = 1.0 - (1.0 - threshold**r) ** b
        if recall >= target_recall and (best is None or r > best[1]):
            best = (b, r, recall)
    if best is None:
        b, r = num_hashes, 1
        best = (b, r, 1.0 - (1.0 - threshold) ** b)
    return best[0], best[1], round(best[2], 6)


def compact_cadence(
    n_rows: int,
    rewrite_rows_per_s: float = 100_000.0,
    per_dir_read_s: float = 0.05,
    reads_per_commit: float = 1.0,
) -> int:
    """Auto-compaction cadence K (commits between folds) for a
    commit-log store, from the classic amortization balance.

    Over one cycle of K ingests the store pays ONE rewrite of its live
    rows (≈ n_rows / rewrite_rows_per_s seconds) plus a per-read union
    tax that grows with the uncompacted dir count (≈ reads_per_commit ·
    per_dir_read_s · K²/2 across the cycle).  Per-commit cost is
    minimized at K* = sqrt(2·C_rewrite / (R·c_dir)) — the cadence GROWS
    as the store grows, because each rewrite gets more expensive while
    the per-dir tax is constant (measured r7: 4× read degradation at
    100 uncompacted micro-batches ⇒ c_dir ≈ 0.05 s; batch write path
    ≈ 100k rows/s).  Clamped to [8, 256]: below 8 the rewrite dominates
    every cycle; above 256 the manifest fold and read-union tax win
    even with commit-level skipping.  Workloads whose reads skip most
    dirs (time-ordered scans) can pass a smaller reads_per_commit —
    skipped dirs never pay c_dir."""
    import math

    if n_rows < 0:
        raise ValueError("n_rows must be >= 0")
    c_rewrite = n_rows / max(rewrite_rows_per_s, 1e-9)
    tax = max(reads_per_commit * per_dir_read_s, 1e-9)
    k = math.sqrt(2.0 * c_rewrite / tax) if c_rewrite > 0 else 8.0
    return max(8, min(int(k), 256))


def ivf_nprobe(
    target_recall: float, curve: list[tuple[int, float]]
) -> int:
    """Smallest nprobe whose MEASURED recall@k meets ``target_recall``,
    from an ``operators/similarity.py::ivf_recall_curve`` measurement
    (list of (nprobe, recall) points).  IVF recall is monotone
    non-decreasing in nprobe (a superset of probed cells can only add
    candidates), so the smallest sufficient point is the right answer;
    if no measured point reaches the target, return the largest
    measured nprobe + a doubling step — the caller should re-measure
    (the curve, not a formula, is the contract: recall depends on how
    the corpus clusters, which no closed form sees)."""
    if not curve:
        raise ValueError("empty recall curve")
    if not 0.0 < target_recall <= 1.0:
        raise ValueError("target_recall must be in (0, 1]")
    pts = sorted(curve)
    for nprobe, recall in pts:
        if recall >= target_recall:
            return nprobe
    return pts[-1][0] * 2


def ivf_refresh_needed(
    curve: list[tuple[int, float]],
    target_recall: float,
    k_cells: int,
) -> bool:
    """True when the frozen quantizer can no longer serve the recall
    target at a sane probe budget — the RE-TRAIN trigger (VERDICT r9
    #3) completing the drift loop that ``ivf_nprobe`` starts.

    The budget line is nprobe ≤ k_cells/2: past half the cells the
    "index" reads most of the corpus per query and the coarse quantizer
    is no longer doing its job — FAISS/ScaNN operators re-train
    offline at that point rather than keep widening probes.  The
    decision reads the MEASURED post-append curve (ground-truth recall
    from ``ivf_recall_curve``), so it reacts to how the corpus actually
    clusters, not to a drift proxy.  An empty curve or a curve with no
    point inside the budget is conservatively "refresh" — measuring
    only out-of-budget points means the caller already suspects the
    index."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError("target_recall must be in (0, 1]")
    limit = max(1, k_cells // 2)
    return not any(
        recall >= target_recall for nprobe, recall in curve if nprobe <= limit
    )


def max_partition_bytes(cluster: ClusterShape) -> int:
    """Scan-split size: 1/8 of per-core memory, clamped to [32 MB, 512 MB].

    A columnar scan materializes decompressed batches several times the
    on-disk split; 1/8 of the core's share leaves room for the operator
    above the scan.  Under 32 MB file-listing/task overhead dominates;
    over 512 MB row-group pruning granularity suffers.
    """
    return min(max(cluster.mem_per_core_bytes // 8, 32 * MB), 512 * MB)


def broadcast_threshold_bytes(cluster: ClusterShape) -> int:
    """Auto-broadcast cutoff: 1/16 of executor memory, clamped to
    [10 MB, 1 GB].  The broadcast must fit on EVERY executor alongside
    the streamed side and operator state; 1/16 keeps a misestimated
    (compressed-parquet vs in-memory) relation from evicting the rest.
    """
    return min(max(cluster.mem_per_executor_bytes // 16, 10 * MB), 1 * GB)


def streaming_state_partitions(
    max_keys_per_window: int,
    bytes_per_key: int,
    cluster: ClusterShape,
    target_state_bytes: int = 256 * MB,
) -> int:
    """Shuffle partitions for a stateful stream (set BEFORE first start —
    Spark pins state layout to the partition count).  Size so the
    biggest window's state per partition stays ~target (RocksDB
    working-set friendly), with the same 2x-cores floor as batch.
    q181 measures max_keys_per_window; bytes_per_key comes from the
    state schema.
    """
    state_bytes = max_keys_per_window * bytes_per_key
    by_state = -(-state_bytes // target_state_bytes)
    return max(2 * cluster.total_cores, by_state, 1)


def watermark_delay_seconds(p99_late_s: float, safety: float = 2.0) -> int:
    """Watermark from measured lateness (q180): cover the p99 with a
    safety factor (2x default — the p99→max gap is typically fat), never
    below 1 s.  A watermark below true lateness silently drops rows
    (ST2); one far above it holds state for no reason.
    """
    return max(int(p99_late_s * safety + 0.5), 1)


def vacuum_retain(
    commits_per_day: float,
    time_travel_days: float = 7.0,
    fold_budget_ms: float = 50.0,
) -> int:
    """How many manifest commits to retain (``ManifestStore.vacuum``'s
    ``retain_last``): the larger of the time-travel requirement and a
    floor of 8, capped by the metadata-fold budget.

    The fold cost is linear in retained commits — measured ~0.02 ms per
    commit (tools/bench_vacuum.py: 80.8 ms at 4096 commits) — so
    ``fold_budget_ms`` caps retention at budget/0.02 commits.  At one
    commit per streaming micro-batch (e.g. 8640/day at 10 s triggers), a
    7-day time-travel window wants 60k commits but a 50 ms fold budget
    caps it at 2500: the caller must then either raise the budget or
    lower the trigger rate — the function returns the cap and the
    tension is explicit rather than discovered in production.
    """
    want = int(commits_per_day * time_travel_days)
    cap = int(fold_budget_ms / 0.02)
    return max(8, min(want, cap))


def lsh_max_bucket(
    p99_bucket: int,
    max_bucket: int,
    floor: int = 64,
    headroom: int = 8,
) -> int | None:
    """Auto-size ``lsh_candidate_pairs(max_bucket=...)`` from a bucket
    histogram probe (the q264 prediction turned into a rule).

    A TRUE near-dup cluster of size s fills a bucket of ~s in every
    band, so the cap must sit comfortably above typical cluster sizes —
    ``headroom × p99(bucket size)``, floored at ``floor``.  A hot
    STOP-SHINGLE bucket grows with the corpus instead (measured on the
    shared-vocab corpus: candidates 1.6M→17.8M from 150k→500k docs;
    cap=256 halved candidates and verify wall-clock with an IDENTICAL
    verified pair set — band redundancy catches the pair elsewhere).
    Returns None when the largest bucket is already under the cap:
    capping then buys nothing and the extra histogram semi-join would
    be pure cost.

    Precondition (same as the operator's): exact dedup has already run —
    thousands of byte-identical docs legitimately bucket together in
    EVERY band, and no cap is safe for them.
    """
    cap = max(floor, headroom * max(1, int(p99_bucket)))
    if max_bucket <= cap:
        return None
    return cap


def recommend(
    input_bytes: int,
    cluster: ClusterShape,
    skew_index: float = 1.0,
    shuffle_fraction: float = 0.5,
) -> dict[str, str]:
    """One-call conf bundle for a batch job over ``input_bytes``.

    ``shuffle_fraction``: how much of the input survives to the widest
    shuffle (projection/filter usually drop half or more; 1.0 for
    worst-case joins on unpruned facts).
    """
    sp = shuffle_partitions(
        int(input_bytes * shuffle_fraction), cluster, skew_index=skew_index
    )
    return {
        "spark.sql.shuffle.partitions": str(sp),
        "spark.sql.files.maxPartitionBytes": str(max_partition_bytes(cluster)),
        "spark.sql.autoBroadcastJoinThreshold": str(
            broadcast_threshold_bytes(cluster)
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
