"""Distributed connected components — dedup-cluster formation.

Near-dup pair generation (minhash LSH, simhash banding, embedding
blocking — operators/dedup.py, operators/similarity.py) yields EDGES;
canonicalizing a corpus needs the transitive closure: every document in a
duplicate CLUSTER collapses to one canonical representative.  This is
min-label propagation over the pair graph, the standard Spark-shaped
formulation (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14):

- labels start as each node's own id;
- each round, every node takes the min label among itself and its
  neighbors (one shuffle: edges ⋈ labels, then a min-agg);
- converged when no label changed (one bounded `isEmpty` probe per
  round — a driver *flag*, not driver data).

Rounds needed = graph diameter.  Dedup clusters are dense blobs of
mutual near-dups (diameter 2-4 in practice), so propagation beats the
O(log n)-guaranteed-but-constant-heavy large-star/small-star alternation
for this workload; ``max_iters`` caps adversarial chains.  Each round
localCheckpoints the labels to sever the growing lineage — iteration i
re-reads a materialized frame, not a 2^i-deep plan.

No reference twin: the reference dedups exact rows only
(sql_db.py:487-497); clustering is part of the training-data extension
surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iters: int = 50,
) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    ``edges`` is undirected input (each pair once is enough).  ``nodes``
    optionally supplies the full node universe (single-column DataFrame);
    nodes without any edge become singleton components — exactly what a
    dedup pipeline wants (unique docs keep themselves as canonical).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    bi = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    bi = bi.repartition("s").localCheckpoint(eager=True)  # reused every round

    labels = bi.select(F.col("s").alias("node")).distinct()
    if nodes is not None:
        universe = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        labels = labels.union(universe).distinct()
    labels = labels.withColumn("label", F.col("node")).localCheckpoint(eager=True)

    for _ in range(max_iters):
        msgs = bi.join(labels, bi.s == labels.node).select(
            F.col("d").alias("node"), F.col("label")
        )
        new = (
            labels.select("node", "label")
            .union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
        )
        labels = new
        if changed.limit(1).isEmpty():
            break
    return labels.select("node", F.col("label").alias("component"))


def cluster_summary(components: DataFrame) -> DataFrame:
    """Per-cluster accounting: size and canonical (min) member — the
    scrub-plan view a dedup job reports before dropping non-canonicals."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("size"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    iters: int = 3,
    damping: float = 0.85,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list: the standard
    power iteration rank(v) = (1-d) + d * Σ rank(u)/outdeg(u).

    Spark shape: out-degrees are one aggregate; each iteration is one
    join (ranks ⋈ edges on src) + one aggregate (sum contributions by
    dst) — exactly two exchanges per round, both on the node key, so at
    scale a pre-partitioned edge table makes the join co-located.  Ranks
    are localCheckpointed each round to sever the growing lineage (the
    same discipline as connected_components above).  Nodes with no
    inbound edges settle at (1-d); dangling mass is not redistributed
    (callers wanting classic normalization feed a bidirected graph).
    """
    # Materialize the edge list WITH out-degrees once: every iteration
    # re-reads this frame instead of replaying the upstream join/distinct
    # lineage (3 iterations of a lazily recomputed fact-join cost ~5x the
    # whole algorithm before this was checkpointed).
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    ew = e.join(outdeg, "s").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iters):
        # With broadcast_ranks the rank vector ships to every task and the
        # EDGE LIST NEVER SHUFFLES for the join — each iteration is a
        # broadcast hash join + partial agg + one small exchange on node.
        # Use when |nodes| ≪ |edges| (rank vector ~16 B/node); the default
        # shuffle join is the general any-scale path.
        rside = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            rside.join(ew, ranks.node == ew.s)
            .select(F.col("d").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_cached(
    edges: DataFrame,
    source_paths: str | list[str],
    variant: str,
    src: str = "s",
    dst: str = "d",
    iters: int = 3,
    damping: float = 0.85,
    broadcast_ranks: bool = False,
    cache_dir: str | None = None,
) -> DataFrame:
    """Persisted twin of ``pagerank`` — the converged rank frame as a
    materialized artifact, the same one-fit-many-readers discipline as
    ``clustering.fit_or_load_centroids`` and
    ``dedup.minhash_near_dup_pairs_cached``: a production graph job runs
    the power iteration ONCE per source snapshot, and every consumer
    (ranking reports, join-enrichment, downstream sampling weights) reads
    the artifact.  At 100 TB each iteration is a full edge-table pass;
    recomputing per consumer multiplies the most expensive stage of the
    pipeline by its reader count.

    Cache key = (source file identities: path+mtime+size each, a caller-
    supplied ``variant`` tag naming the edge-derivation semantics, iters,
    damping) — rewriting any source invalidates automatically, and two
    queries deriving DIFFERENT graphs from the same files cannot collide.
    ``broadcast_ranks`` is plan strategy, not semantics, so it is
    deliberately NOT in the key.  Write is materialize-to-temp + rename
    (crash-safe, concurrent fitters race benignly — the iteration is
    deterministic).
    """
    from stock_ops_spark.operators import artifacts

    spark = edges.sparkSession
    if cache_dir is None:
        cache_dir = artifacts.default_cache_dir()
    if isinstance(source_paths, str):
        source_paths = [source_paths]
    ident = ";".join(artifacts.source_identity(p) for p in source_paths)
    # v-tag: bump when pagerank's semantics change — the key must identify
    # the algorithm as well as the inputs, or a code change serves stale ranks
    raw = f"v1|{variant}|{ident}|iters={iters}|damping={damping}"
    key = artifacts.cache_key(raw)
    path = os.path.join(cache_dir, f"pagerank_{key}.parquet")
    if os.path.isdir(path):
        return spark.read.parquet(path)
    ranks = pagerank(
        edges, src=src, dst=dst, iters=iters, damping=damping,
        broadcast_ranks=broadcast_ranks,
    )
    artifacts.publish(ranks, path)
    return spark.read.parquet(path)


def pagerank_converged(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    tol: float = 1e-4,
    max_iters: int = 100,
    damping: float = 0.85,
    init: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Tolerance-stopped PageRank: iterate until the max per-node rank
    change drops below ``tol`` (or ``max_iters``).  ``init`` warm-starts
    the iteration from a prior rank frame (``node``, ``rank``): carried
    nodes start at their old rank, new nodes at the uniform 1.0 — the
    power iteration converges to the same fixed point from ANY start,
    so warm-starting is a pure iteration-count optimization, and for a
    small edge delta the old ranks are already near the new fixed point.
    ``stats['iterations']`` records how many rounds ran — the measured
    warm-vs-cold saving is what justifies the artifact plumbing in
    ``pagerank_warm_cached``.

    Same per-iteration plan as ``pagerank`` (one join + one aggregate,
    both keyed on node) plus one tiny max-|Δ| aggregate over the rank
    frame — O(|nodes|) per round, negligible next to the edge join.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    ew = e.join(outdeg, "s").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if init is not None:
        ranks = (
            nodes.join(
                init.select("node", F.col("rank").alias("__r0")), "node", "left"
            )
            # nodes the prior artifact never saw start at (1-d) — their
            # NO-inflow fixed point — not the uniform 1.0: a fresh node
            # typically has little inbound mass, and seeding it 0.85 high
            # would make the max-|Δ| stop as slow as a cold start
            .select(
                "node",
                F.coalesce("__r0", F.lit(1.0 - damping)).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        ranks = nodes.withColumn("rank", F.lit(1.0))
    used = 0
    for _ in range(max_iters):
        contrib = (
            ranks.join(ew, ranks.node == ew.s)
            .select(
                F.col("d").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        nxt = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        used += 1
        delta = (
            nxt.join(ranks.select("node", F.col("rank").alias("__p")), "node")
            .agg(F.max(F.abs(F.col("rank") - F.col("__p"))).alias("m"))
            .collect()[0]["m"]
        )
        ranks = nxt
        if delta is not None and delta < tol:
            break
    if stats is not None:
        stats["iterations"] = used
    return ranks


def pagerank_warm_cached(
    edges: DataFrame,
    source_path: str,
    variant: str,
    src: str = "s",
    dst: str = "d",
    tol: float = 1e-4,
    max_iters: int = 100,
    damping: float = 0.85,
    cache_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Versioned PageRank artifact with WARM-START refresh — the
    minhash/containment/co-purchase incremental discipline applied to
    the iterative-algorithm family.  ``pagerank_cached`` rebuilds from
    the uniform start on every source rewrite; here a source-version
    miss finds the newest complete prior version of the same family and
    seeds the iteration from its ranks.  Unlike the pair artifacts
    (exact ±1 folds) an eigenvector has no exact delta fold, but it has
    something as good: convergence from any start — warm-starting near
    the fixed point cuts iterations, and each iteration at 100 TB is a
    full edge-table pass, so saved iterations are saved passes.  The
    saving is ~log(cold_error/warm_error)/log(1/damping) passes — a
    CONSTANT set by churn magnitude, so it dominates when churn is
    small (the production refresh case: at 0.1% churn the warm error
    starts ~3 orders below cold's and most passes are skipped); the
    incremental test pins the aggressive end (5% structural churn,
    measured 38 cold -> 33 warm at tol=1e-4, strictly fewer).

    Family key = (variant, source abspath, tol/damping); version key =
    source identity (mtime+size).  Results are tolerance-equal, not
    bit-equal, across refresh paths — callers that need bit-stable
    replay should pin ``pagerank_cached``'s fixed-iteration semantics
    instead.
    """
    from stock_ops_spark.operators import artifacts

    spark = edges.sparkSession
    if cache_dir is None:
        cache_dir = artifacts.default_cache_dir()
    famraw = (
        f"v1|pagerank_warm|{variant}|{os.path.abspath(source_path)}"
        f"|tol={tol}|damping={damping}"
    )
    fam = artifacts.cache_key(famraw)
    ver = artifacts.cache_key(artifacts.source_identity(source_path))
    suffixes = [".ranks.parquet"]
    rpath = artifacts.versioned_path(cache_dir, "pagerank_warm", fam, ver, suffixes[0])
    if os.path.isdir(rpath):
        return spark.read.parquet(rpath)
    os.makedirs(cache_dir, exist_ok=True)
    prior = artifacts.find_prior_version(
        cache_dir, "pagerank_warm", fam, ver, suffixes
    )
    init = None
    if prior is not None:
        init = spark.read.parquet(
            artifacts.versioned_path(
                cache_dir, "pagerank_warm", fam, prior, suffixes[0]
            )
        )
        if stats is not None:
            stats["warm_start"] = True
    ranks = pagerank_converged(
        edges, src=src, dst=dst, tol=tol, max_iters=max_iters,
        damping=damping, init=init, stats=stats,
    )
    artifacts.publish(ranks, rpath)
    return spark.read.parquet(rpath)


def copurchase_counts(op: DataFrame) -> DataFrame:
    """Unfiltered (pa, pb, w) pair counts over a DISTINCT (l_orderkey,
    l_partkey) frame: w = number of distinct orders containing both
    parts.  The per-order pair self-join is the heavy stage every
    cached/incremental path exists to avoid repeating."""
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def copurchase_edges(lineitem: DataFrame, support: int = 2) -> DataFrame:
    """(pa, pb, w) part-part co-purchase edges with pa < pb: w = number
    of DISTINCT ORDERS containing both parts, filtered to w >= support.

    The distinct projection matters: lineitem can hold the same
    (order, part) twice, and row-based pairing would then count one
    order as multiple co-occurrences — 'appears together in >= N
    orders' is the meaningful affinity signal.  The support filter
    separates affinity from one-off noise AND keeps the graph sparse
    (~4k edges at every SF vs ~1.2M unfiltered at sf0.1)."""
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    return copurchase_counts(op).where(F.col("w") >= support)


def copurchase_counts_delta(
    cur_op: DataFrame,
    old_op: DataFrame,
    old_counts: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """EXACT incremental pair-count refresh: each order contributes 0/1
    to a pair independently, so the count table is a sum of per-order
    contributions — for orders whose (order, part) set changed in ANY
    way (rows appended, an existing order growing parts, rows removed
    by retention), add the touched orders' pair sets at +1 under the
    new state and -1 under the old state and fold into the carried
    counts.  The expensive per-order pair join runs ONLY on touched
    orders; the untouched corpus contributes one linear anti-join scan
    (no self-join) for change detection.  This is the minhash-delta
    discipline (VERDICT r5 #2) applied to the graph family."""
    keys = ["l_orderkey", "l_partkey"]
    added = cur_op.join(old_op, keys, "left_anti")
    removed = old_op.join(cur_op, keys, "left_anti")
    touched = (
        added.select("l_orderkey")
        .unionByName(removed.select("l_orderkey"))
        .distinct()
        # sever lineage: `touched` feeds two pair joins below, and both
        # sides' plans would otherwise re-run the anti-joins
        .localCheckpoint(eager=True)
    )
    cur_t = cur_op.join(touched, "l_orderkey", "leftsemi")
    old_t = old_op.join(touched, "l_orderkey", "leftsemi")
    if stats is not None:
        stats["touched_orders"] = touched.count()
        stats["delta_pair_rows_new"] = cur_t.count()
        stats["delta_pair_rows_old"] = old_t.count()
    plus = copurchase_counts(cur_t)
    minus = copurchase_counts(old_t).select(
        "pa", "pb", (-F.col("w")).alias("w")
    )
    return (
        old_counts.unionByName(plus)
        .unionByName(minus)
        .groupBy("pa", "pb")
        .agg(F.sum("w").cast("long").alias("w"))
        .where(F.col("w") > 0)
    )


def copurchase_edges_cached(
    lineitem: DataFrame,
    source_path: str,
    support: int = 2,
    cache_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Persisted twin of ``copurchase_edges`` — the support-filtered edge
    list is the shared base of FOUR graph consumers (triangle counting
    q134, association rules q137, BFS q141, recursive CTE q254), and its
    only heavy stage is the per-order pair self-join of the full
    lineitem table; the fit-once-read-many artifact discipline (see
    operators/artifacts.py) turns that into one pass + N parquet reads.

    Incremental refresh (the minhash/containment discipline): each
    version persists THREE artifacts — the served edges, the UNFILTERED
    pair counts, and the distinct (order, part) state.  On a version
    miss with a prior complete version of the same family,
    ``copurchase_counts_delta`` recomputes pairs only for orders whose
    part set changed (±1 contribution fold — exact under appends,
    in-place growth, AND retention deletes); the per-order self-join
    never re-touches unchanged orders.  ``stats`` receives the delta
    counters the incremental test asserts on.  Both counts and state
    are linear in the input's distinct projection — the storage price
    of never re-running the quadratic stage on the full corpus."""
    from stock_ops_spark.operators import artifacts

    spark = lineitem.sparkSession
    if cache_dir is None:
        cache_dir = artifacts.default_cache_dir()
    famraw = f"v2|copurchase|{os.path.abspath(source_path)}|support={support}"
    fam = artifacts.cache_key(famraw)
    ver = artifacts.cache_key(artifacts.source_identity(source_path))
    suffixes = [".edges.parquet", ".counts.parquet", ".state.parquet"]
    epath = artifacts.versioned_path(cache_dir, "copurchase", fam, ver, suffixes[0])
    cpath = artifacts.versioned_path(cache_dir, "copurchase", fam, ver, suffixes[1])
    spath = artifacts.versioned_path(cache_dir, "copurchase", fam, ver, suffixes[2])
    if os.path.isdir(epath):
        return spark.read.parquet(epath)
    os.makedirs(cache_dir, exist_ok=True)
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    prior = artifacts.find_prior_version(
        cache_dir, "copurchase", fam, ver, suffixes
    )
    if prior is not None:
        old_counts = spark.read.parquet(
            artifacts.versioned_path(cache_dir, "copurchase", fam, prior, suffixes[1])
        )
        old_op = spark.read.parquet(
            artifacts.versioned_path(cache_dir, "copurchase", fam, prior, suffixes[2])
        )
        counts = copurchase_counts_delta(op, old_op, old_counts, stats=stats)
    else:
        counts = copurchase_counts(op)
    artifacts.publish(op, spath)
    artifacts.publish(counts, cpath)
    edges = spark.read.parquet(cpath).where(F.col("w") >= support)
    artifacts.publish(edges, epath)
    return spark.read.parquet(epath)
