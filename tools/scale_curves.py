"""Measure time-vs-rows scaling exponents for the heavy pipelines.

VERDICT r5 #1: every "survives 100×" claim in SCALING.md was inferred
from plan shape but only ever TIMED at sf0.1.  This tool times the
heavy pipelines at three scale points generated by `tools/scale_gen.py`
(same generator at every point — see its module docstring) and fits the
log-log slope: t ≈ c·rows^k, reported as exponent k.

Banded/blocked pipelines (minhash LSH, CC, PageRank, exact dedup,
star-agg) should fit k ≈ 1 (linear); the inherently pair-quadratic
verifies (containment on the adversarial shared-vocab corpus, the
brand-blocked fuzzy join with fixed block COUNT) are expected at
k ≈ 2 — the measurement's job is to put a number on each so SCALING.md
states measured exponents, not inferences.

Scale points are chosen per pipeline: linear pipelines run
sf 0.1/0.3/1.0; quadratic ones run sf 0.03/0.1/0.3 so a single point
never dominates wall-clock (a k=2 pipeline at sf1.0 would be ~100× its
sf0.1 cost by design, which proves nothing extra).

Usage:
    python tools/scale_gen.py 0.03 .scaledata/sf0.03   # once per point
    python tools/scale_curves.py [--out STATUS_json] [--only name,...]

Writes one JSON to stdout and (with --out) to a file consumed by
tests/test_scale_curves_guard.py (the sf0.3 regression guard).
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stock_ops_spark.session import get_spark  # noqa: E402

BASE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".scaledata")

LINEAR_SFS = ["0.1", "0.3", "1.0"]
QUAD_SFS = ["0.03", "0.1", "0.3"]
WIDE_SFS = ["0.3", "1.0", "3.0"]  # cheap pipelines need more rows to
#                                   climb above the ~0.5 s local job floor
WIDE4_SFS = ["0.3", "1.0", "3.0", "10.0"]  # 3-order-of-magnitude span
# (60M lineitem rows / 500k docs at the top) for the headline pipelines
REFRESH_SFS = ["1.0", "3.0", "10.0"]  # re-train cost curve (r11 #5): the
# loop is ~a cold build, so the sub-second low points teach nothing


def _read(spark, sf, name):
    from stock_ops_spark.catalog import normalize_ts

    df = spark.read.parquet(os.path.join(BASE, f"sf{sf}", f"{name}.parquet"))
    return normalize_ts(df)


def p_minhash(spark, sf):
    from stock_ops_spark.operators.dedup import minhash_near_dup_pairs

    d = _read(spark, sf, "documents")
    n = minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.5).count()
    return d.count(), n


def p_containment(spark, sf):
    from stock_ops_spark.operators.dedup import containment_pairs

    d = _read(spark, sf, "documents")
    n = containment_pairs(d, "doc_id", "text", 4, 5).count()
    return d.count(), n


def p_cc(spark, sf):
    """CC timed over the minhash pair set; the pair build is excluded
    (persisted + counted before the clock starts)."""
    from stock_ops_spark.operators.dedup import minhash_near_dup_pairs
    from stock_ops_spark.operators.graph import connected_components

    d = _read(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.5)
    pairs = pairs.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n = connected_components(pairs, "id_a", "id_b",
                             nodes=d.select("doc_id")).count()
    return d.count(), n, time.perf_counter() - t0


def p_pagerank(spark, sf):
    from stock_ops_spark.operators.graph import copurchase_edges, pagerank

    li = _read(spark, sf, "lineitem")
    e = copurchase_edges(li, support=2)
    bi = e.select(F.col("pa").alias("s"), F.col("pb").alias("d")).union(
        e.select(F.col("pb").alias("s"), F.col("pa").alias("d")))
    n = pagerank(bi, iters=3).count()
    return li.count(), n


def p_fuzzy_names(spark, sf):
    p = _read(spark, sf, "part")
    a = p.select(F.col("p_brand").alias("b"), F.col("p_partkey").alias("ka"),
                 F.col("p_name").alias("na"))
    b = p.select(F.col("p_brand").alias("b"), F.col("p_partkey").alias("kb"),
                 F.col("p_name").alias("nb"))
    out = (a.join(b, "b")
           .where(F.col("ka") < F.col("kb"))
           .where(F.levenshtein("na", "nb", 3) <= 3))
    return p.count(), out.count()


def p_item_cosine(spark, sf):
    """q140 shape: item-item cosine over shared-customer baskets."""
    li = _read(spark, sf, "lineitem")
    o = _read(spark, sf, "orders")
    b = (li.join(o, li.l_orderkey == o.o_orderkey)
         .groupBy("o_custkey", "l_partkey")
         .agg(F.count(F.lit(1)).alias("w")))
    norms = b.groupBy("l_partkey").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2"))
    x = b.select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("pa"),
                 F.col("w").alias("wa"))
    y = b.select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("pb"),
                 F.col("w").alias("wb"))
    dots = (x.join(y, "c").where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb").agg(F.sum(F.col("wa") * F.col("wb")).alias("d"))
            .where(F.col("d") >= 3))
    return li.count(), dots.count()


def p_exact_dedup(spark, sf):
    from stock_ops_spark.operators.dedup import exact_dup_groups

    d = _read(spark, sf, "documents")
    n = exact_dup_groups(d, "doc_id", F.md5(F.col("text"))).count()
    return d.count(), n


def p_star_agg(spark, sf):
    """TPC-H Q1/Q5-ish shape: the linear control."""
    li = _read(spark, sf, "lineitem")
    n = (li.groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity"), F.sum("l_extendedprice"),
              F.count(F.lit(1))).count())
    return li.count(), n


def p_editdist_passjoin(spark, sf):
    """q234 shape: bounded edit-distance pairs over prefix-80 doc text
    via PassJoin segment pigeonhole — the long-string fuzzy join that
    replaces a blocked product with an equi-join (contrast
    fuzzy_names_blocked, where 7-12-char strings make the output itself
    quadratic)."""
    from stock_ops_spark.operators.fuzzy import edit_distance_pairs

    d = _read(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, 80).alias("p"))
    n = edit_distance_pairs(d, "doc_id", "p", 4).count()
    return d.count(), n


def p_boilerplate_chunks(spark, sf):
    """q255 shape: 10-word chunk tiling + chunk-keyed aggregation —
    should stay ~linear (one shuffle carrying each word once)."""
    d = _read(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("words"))
    chunks = F.expr(
        "CASE WHEN size(words) >= 10 THEN "
        "transform(sequence(0, CAST(size(words) / 10 AS INT) - 1), "
        "i -> array_join(slice(words, i * 10 + 1, 10), ' ')) "
        "ELSE array() END")
    out = (d.select("doc_id", F.explode(chunks).alias("chunk"))
           .groupBy("chunk")
           .agg(F.countDistinct("doc_id").alias("n_docs"))
           .where(F.col("n_docs") >= 2).count())
    return d.count(), out


def p_ngram_novelty(spark, sf):
    """q256 shape: 5-gram first-introducer over one gram shuffle —
    should stay ~linear in corpus size."""
    from pyspark.sql import Window

    d = _read(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("words"))
    grams = F.expr(
        "CASE WHEN size(words) >= 5 THEN "
        "transform(sequence(1, size(words) - 4), "
        "i -> array_join(slice(words, i, 5), ' ')) "
        "ELSE array() END")
    dg = d.select("doc_id", F.explode(grams).alias("gram")).distinct()
    first = F.min("doc_id").over(Window.partitionBy("gram"))
    out = (dg.withColumn("fd", first)
           .where(F.col("fd") == F.col("doc_id")).count())
    return d.count(), out


def p_curation_funnel(spark, sf):
    """q260 shape: the five-stage curation pipeline end-to-end (split →
    gates → exact dedup → LIVE minhash near-dedup → 4-gram decontam) as
    ONE observed plan — the whole-pipeline twin of the per-stage
    measurements above; should track the minhash stage (~linear)."""
    from stock_ops_spark.operators.dedup import minhash_near_dup_pairs
    from stock_ops_spark.pipeline import standard_curation

    d = _read(spark, sf, "documents")
    pipe = standard_curation(
        d, lambda: minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.5)
    )
    kept, _obs = pipe.run(d)
    return d.count(), kept.count()


def p_heavy_hitter_tokens(spark, sf):
    """q271 shape: MG summarize (bounded state) + candidate recount —
    two scans and a broadcast semi-join; should stay ~linear."""
    from stock_ops_spark.operators.heavyhitters import exact_topk_via_mg

    d = _read(spark, sf, "documents")
    words = d.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")).where(
        F.col("w") != "")
    out = exact_topk_via_mg(words, "w", k=15, capacity=4096).count()
    return d.count(), out


def p_bucketed_build_join(spark, sf):
    """q269 shape INCLUDING the twin build: write both facts bucketed
    into a fresh cache, then run the co-located join rollup — the
    pay-the-shuffle-once recipe, so the whole thing should scale like
    the bucketed WRITE (~linear in rows)."""
    import shutil
    import tempfile

    from stock_ops_spark.sources.bucketing import bucketed_twin

    cache = tempfile.mkdtemp(prefix="bkt_curve_")
    try:
        o = bucketed_twin(
            spark, _read(spark, sf, "orders"),
            os.path.join(BASE, f"sf{sf}", "orders.parquet"),
            f"curve_o_{sf.replace('.', '_')}", ["o_orderkey"], 16,
            cache_dir=cache)
        li = bucketed_twin(
            spark, _read(spark, sf, "lineitem"),
            os.path.join(BASE, f"sf{sf}", "lineitem.parquet"),
            f"curve_l_{sf.replace('.', '_')}", ["l_orderkey"], 16,
            cache_dir=cache)
        out = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
               .groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n")).count())
        return li.count(), out
    finally:
        for t in list(spark.catalog.listTables()):
            if t.name.startswith(f"bkt_curve_"):
                spark.sql(f"DROP TABLE {t.name}")
        shutil.rmtree(cache, ignore_errors=True)


def p_ivf_ann(spark, sf):
    """q113/q24 shape: Lloyd's k-means fit (3 iters) + per-label
    centroid index + IVF top-10 probe for a query batch — the ANN
    scale path.  Fit cost is iters x one scan; probe touches only
    nprobe cells, so the whole thing should stay ~linear in corpus."""
    from pyspark.sql import functions as FN

    from stock_ops_spark.operators.clustering import assign_clusters, kmeans_fit
    from stock_ops_spark.operators.similarity import knn_join_ivf

    e = _read(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=16, iters=3)
    labeled = assign_clusters(e, cents).select(
        "vec_id", "embedding", FN.col("cid").alias("label"))
    queries = e.where(FN.col("vec_id") % 100 == 0).select(
        FN.col("vec_id").alias("query_id"), FN.col("embedding").alias("qv"))
    out = knn_join_ivf(labeled, queries, k=10, nprobe=2).count()
    return e.count(), out


def p_bm25(spark, sf):
    """q278 shape: tokenize, tf/dl/df stats, exact-rational BM25 over a
    broadcast 4-term query, top-10 — should be linear in corpus tokens
    (two keyed aggregates + broadcast joins)."""
    from stock_ops_spark.queries import QUERIES

    d = _read(spark, sf, "documents")
    n = QUERIES["q278_bm25_topk"](
        spark, os.path.join(BASE, f"sf{sf}")).count()
    return d.count(), n


def p_dim_correlation(spark, sf):
    """q280 shape: per-row HOF pair products over the 64-dim quantized
    embedding, one 2016-key aggregate — linear in vectors (the pair
    count is per ROW, fixed by dimension, not by corpus)."""
    from stock_ops_spark.queries import QUERIES

    e = _read(spark, sf, "embeddings")
    n = QUERIES["q280_embedding_dim_correlation"](
        spark, os.path.join(BASE, f"sf{sf}")).count()
    return e.count(), n


def p_ols_moments(spark, sf):
    """q299 shape: ten exact second-order moments in ONE map-combinable
    aggregate + a scalar Cramer solve — the archetypal linear one-pass
    (no joins, no windows); the exponent should sit at k ≈ 1 bounded
    below by the scan."""
    from stock_ops_spark.queries import QUERIES

    li = _read(spark, sf, "lineitem")
    n = QUERIES["q299_ols_normal_equations"](
        spark, os.path.join(BASE, f"sf{sf}")).count()
    return li.count(), n


def p_weighted_sample(spark, sf):
    """q302 shape: per-row exponential-clock arithmetic + TakeOrdered
    top-50 — linear scan cost, constant result size; the distributed
    sampling path a 100 TB corpus subset draw would take."""
    from stock_ops_spark.queries import QUERIES

    d = _read(spark, sf, "documents")
    n = QUERIES["q302_weighted_doc_sample"](
        spark, os.path.join(BASE, f"sf{sf}")).count()
    return d.count(), n


def p_rrf_hybrid(spark, sf):
    """q303 shape: dense leg (quantized cosine scan + top-50) + lexical
    leg (distinct-term aggregate + broadcast intersection + top-50) +
    bounded fuse — both legs are one pass over their table, so the
    fusion should inherit the slower leg's linear growth."""
    from stock_ops_spark.queries import QUERIES

    d = _read(spark, sf, "documents")
    n = QUERIES["q303_rrf_hybrid_retrieval"](
        spark, os.path.join(BASE, f"sf{sf}")).count()
    return d.count(), n


def p_interval_overlap(spark, sf):
    """q314 shape: error/purchase interval-overlap pairs per user via
    the grid-bucketed join (operators/intervals.py) — cells bound the
    fan-out at <= 2 per interval, so the join should track the posting
    list sizes (linear-ish), NOT the naive theta join's quadratic."""
    from stock_ops_spark.queries import QUERIES

    e = _read(spark, sf, "events")
    n = QUERIES["q314_error_purchase_overlap"](
        spark, os.path.join(BASE, f"sf{sf}")).count()
    return e.count(), n


def _events_as_trades(spark, sf):
    """events → streaming-mode rows (the q306/q316 mapping): raw ms
    timestamps so keys rarely collide; event_id rides volume so no row
    is an exact duplicate."""
    ev = _read(spark, sf, "events")
    return ev.select(
        F.col("event_type").alias("ticker"),
        F.unix_millis("ts").alias("timestamp_UTC_ms"),
        F.col("value").cast("double").alias("price"),
        F.col("event_id").cast("bigint").alias("volume"),
        F.lit(None).cast("double").alias("ask_price"),
        F.lit(None).cast("double").alias("bid_price"),
        F.lit(None).cast("bigint").alias("ask_size"),
        F.lit(None).cast("bigint").alias("bid_size"),
        F.col("event_id").alias("__eid"),
    )


def p_cdc_view_sync(spark, sf):
    """MatView maintenance from the CDC feed (r7 directive #5): 4
    commits of |events|/4 rows each; the TIMED section is the four
    mv.sync() folds — exactly stream_sync's per-micro-batch work
    (_fold_changes is the shared core).  Expected ~O(delta): each fold
    aggregates only its commit's delta + an O(groups) merge, so total
    sync time tracks total rows (k≈1) and is INDEPENDENT of how much
    history already sits in the store."""
    import shutil
    import tempfile

    from stock_ops_spark.plans.matview import MatView
    from stock_ops_spark.sources.commitlog import ManifestStore

    rows = _events_as_trades(spark, sf).localCheckpoint(eager=True)
    n = rows.count()
    root = tempfile.mkdtemp(prefix="curve_cdc_")
    try:
        store = ManifestStore(spark, root, auto_compact_every=0)
        mv = MatView(
            spark, os.path.join(root, "mv"), ["ticker"],
            {"n": ("count", None),
             "cents": ("sum", "CAST(round(price * 100) AS BIGINT)")},
        )
        batches = [
            rows.where(F.col("__eid") % 4 == i).drop("__eid")
            for i in range(4)
        ]
        el = 0.0
        for b in batches:
            store.ingest_batch(b, "streaming")
            t0 = time.perf_counter()
            mv.sync(store, "streaming")  # one per-commit incremental fold
            el += time.perf_counter() - t0
        out = mv.read().count()
        return n, out, el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_merge_touched_dirs(spark, sf):
    """MERGE rewrite cost vs touched dirs (r7 directive #5): the store
    holds |events| rows across FIXED-SIZE (~100k-row) time-disjoint
    commits — the dir count grows 10× across the scale points — and the
    TIMED section is one merge correcting 2,000 keys from the NEWEST
    dir's range only.  Expected ~O(touched dirs), i.e. k≈0 vs store
    rows: the r8 key-rectangle probe skips every time-disjoint dir
    before the tagged read, so probe + rewrite track the one touched
    dir while the store grows around it."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from stock_ops_spark.sources.commitlog import ManifestStore

    base = _events_as_trades(spark, sf)
    n_buckets = max(3, int(base.count() // 100_000))
    rows = base.withColumn(
        "__b",
        F.ntile(n_buckets).over(
            Window.orderBy("timestamp_UTC_ms", "__eid")
        ),
    ).localCheckpoint(eager=True)
    n = rows.count()
    root = tempfile.mkdtemp(prefix="curve_merge_")
    try:
        store = ManifestStore(spark, root, auto_compact_every=0)
        for i in range(1, n_buckets + 1):
            store.ingest_batch(
                rows.where(F.col("__b") == i).drop("__b", "__eid"),
                "streaming",
            )
        src = (
            rows.where(F.col("__b") == n_buckets)
            .orderBy("__eid")
            .limit(2000)
            .drop("__b", "__eid")
            .withColumn("price", F.col("price") + 1.0)
            .localCheckpoint(eager=True)
        )
        t0 = time.perf_counter()
        res = store.merge(src, "streaming")
        el = time.perf_counter() - t0
        return n, res["updated"], el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_mv_minmax_retract(spark, sf):
    """MatView min/max RETRACTION cost vs store size (r8 directive #6):
    the view's only non-O(delta) maintenance path.  The store holds
    |events| rows; the TIMED section is one sync() folding a delete
    that touches ONE group — with a min/max measure this recomputes the
    affected group from the at-version snapshot (read_all + semi-join +
    aggregate), so the expected exponent is k ≈ 1 in store rows with
    scan-sized constants.  This is the measured price of keeping
    min/max in a view; the docstring table in plans/matview.py carries
    the adjudication (subtractable measures stay O(delta+groups))."""
    import shutil
    import tempfile

    from stock_ops_spark.plans.matview import MatView
    from stock_ops_spark.sources.commitlog import ManifestStore

    rows = _events_as_trades(spark, sf).drop("__eid").localCheckpoint(
        eager=True
    )
    n = rows.count()
    root = tempfile.mkdtemp(prefix="curve_mvmm_")
    try:
        store = ManifestStore(spark, root, auto_compact_every=0)
        store.ingest_batch(rows, "streaming")
        mv = MatView(
            spark, os.path.join(root, "mv"), ["ticker"],
            {"n": ("count", None), "hi": ("max", "price")},
        )
        mv.sync(store, "streaming")
        # delete a handful of rows from ONE ticker group
        store.delete_where("streaming", "ticker = 'error' AND volume % 97 = 0")
        t0 = time.perf_counter()
        res = mv.sync(store, "streaming")
        el = time.perf_counter() - t0
        assert res["recomputed_groups"] == 1
        return n, res["neg_rows"], el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_ivf_append_assign(spark, sf):
    """Persisted-IVF append refresh (r8 directive #2): the corpus grows
    with SF but the appended delta is FIXED at 2,000 vectors; the TIMED
    section is one ivf_index_cached refresh from the prior version.
    Expected sublinear: the embedding-assignment math touches only the
    delta; what remains linear is the slim (vec_id, cid, fp) fingerprint
    scan + artifact rewrite, whose constant is ~100 bytes/row vs the
    64-float distance math it replaces."""
    import shutil
    import tempfile

    from stock_ops_spark.operators import ivf as IVF

    e = _read(spark, sf, "embeddings")
    n = e.count()
    root = tempfile.mkdtemp(prefix="curve_ivfapp_")
    try:
        src = os.path.join(root, "emb.parquet")
        e.write.mode("overwrite").parquet(src)
        v0 = spark.read.parquet(src)
        cache = os.path.join(root, "cache")
        IVF.ivf_index_cached(v0, src, k_cells=16, iters=3, dim=64,
                             cache_dir=cache)
        mx = e.agg(F.max("vec_id")).collect()[0][0]
        add = (e.orderBy("vec_id").limit(2000)
               .withColumn("vec_id", F.col("vec_id") + F.lit(mx + 1)))
        e.unionByName(add).write.mode("overwrite").parquet(src)
        v1 = spark.read.parquet(src)
        stats = {}
        t0 = time.perf_counter()
        IVF.ivf_index_cached(v1, src, k_cells=16, iters=3, dim=64,
                             cache_dir=cache, stats=stats)
        el = time.perf_counter() - t0
        return n, stats["vectors_assigned"], el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_span_delta(spark, sf):
    """Span-gram artifact ±delta fold (r9 directive, r10 sf10 point):
    the corpus grows with SF but the appended delta is FIXED at 500
    docs; the TIMED section is one span_state_cached refresh from the
    prior version.  Expected sublinear: tokenization touches only the
    delta; the linear residue is the docstats fingerprint scan + the
    kept-postings pass of the artifact rewrite (parquet copy-through,
    no re-tokenize) and the gramstats fold's full-outer merge over the
    gram vocabulary (sublinear in tokens on natural text)."""
    import shutil
    import tempfile

    from stock_ops_spark.operators import spans as SP

    d = _read(spark, sf, "documents").select("doc_id", "text")
    n = d.count()
    root = tempfile.mkdtemp(prefix="curve_spand_")
    try:
        src = os.path.join(root, "docs.parquet")
        d.write.mode("overwrite").parquet(src)
        v0 = spark.read.parquet(src)
        cache = os.path.join(root, "cache")
        SP.span_state_cached(v0, src, cache_dir=cache)
        mx = d.agg(F.max("doc_id")).collect()[0][0]
        add = (d.orderBy("doc_id").limit(500)
               .withColumn("doc_id", F.col("doc_id") + F.lit(mx + 1)))
        d.unionByName(add).write.mode("overwrite").parquet(src)
        v1 = spark.read.parquet(src)
        stats = {}
        t0 = time.perf_counter()
        SP.span_state_cached(v1, src, cache_dir=cache, stats=stats)
        el = time.perf_counter() - t0
        assert stats["docs_tokenized"] == 500
        return n, stats["docs_tokenized"], el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_ivf_refresh(spark, sf):
    """Quantizer REFRESH cost curve (r11, VERDICT #5): what a FIRED
    re-train costs as the corpus grows — generation bump, fresh Lloyd
    fit on the CURRENT corpus, full re-assignment, and the post-refresh
    recall re-measure (truth served from the exact_topk_cached
    artifact, which a generation bump never invalidates).  The DECISION
    side is pinned elsewhere (q330 oracles the loop; the drift unit
    test forces a real refresh), so this pipeline times the fired arm
    DETERMINISTICALLY instead of depending on a drift construction
    scattering enough at every SF — the r10 attempt at a drift-forced
    curve never recorded a point because sf1's drift recall stayed at
    1.0 within the probe budget.

    The timed section reproduces the production refresh shape exactly:
    the gen-0 fit lives at a PRIOR corpus version (first 2/3), the
    corpus then grows (append fold, frozen centroids — untimed, it has
    its own curve in ivf_append_assign), and the refresh fires at the
    CURRENT version — where the kmeans model cache has no fit, so the
    bump pays a genuine Lloyd re-train + full re-assignment + the
    post-refresh re-measure (truth served from the exact_topk_cached
    artifact, which a generation bump never invalidates)."""
    import shutil
    import tempfile

    from stock_ops_spark.operators import ivf as IVF
    from stock_ops_spark.operators.similarity import (
        exact_topk_cached,
        ivf_recall_curve,
    )

    e = _read(spark, sf, "embeddings")
    n = e.count()
    root = tempfile.mkdtemp(prefix="curve_ivfref_")
    try:
        src = os.path.join(root, "emb.parquet")
        e.where(F.col("vec_id") % 3 != 2).write.mode("overwrite").parquet(src)
        v0 = spark.read.parquet(src)
        cache = os.path.join(root, "cache")
        IVF.ivf_index_cached(v0, src, k_cells=16, iters=3, dim=64,
                             cache_dir=cache)  # gen-0 fit at the PRIOR version
        e.write.mode("overwrite").parquet(src)  # the corpus grows
        v1 = spark.read.parquet(src)
        IVF.ivf_index_cached(v1, src, k_cells=16, iters=3, dim=64,
                             cache_dir=cache)  # append fold, frozen quantizer
        queries = (v1.where(F.col("vec_id") % 97 == 0).orderBy("vec_id")
                   .limit(64)
                   .select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("qv"))
                   .localCheckpoint(eager=True))
        truth = exact_topk_cached(v1, queries, k=5, source_path=src,
                                  cache_dir=cache)
        truth.count()  # materialize the artifact before the clock
        t0 = time.perf_counter()
        IVF.bump_generation(
            cache, IVF.family_base(src, 16, 3, 64)
        )
        idx = IVF.ivf_index_cached(v1, src, k_cells=16, iters=3, dim=64,
                                   cache_dir=cache)  # cold: new generation,
        #                           no fit at this corpus version -> re-train
        tagged = v1.join(
            idx["assign"].select(F.col("vec_id"), "cid"), "vec_id"
        )
        curve = ivf_recall_curve(
            tagged, queries, k=5, nprobes=(1, 2, 4, 8), cluster_col="cid",
            truth=truth,
        ).collect()
        el = time.perf_counter() - t0
        assert len(curve) == 4 and float(curve[-1].recall_at_k) > 0.0
        return n, 1, el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_span_stream_batch(spark, sf):
    """Unified streaming span index (r10): cost of ONE fixed 500-doc
    micro-batch probed+folded against state grown to the full corpus.
    The claim under test: the per-batch probe is a shuffle of the
    BATCH side against the gram state (vocab-sized aggregate +
    semi-joins), never a corpus rescan — so batch cost should grow
    sublinearly with corpus size (vocabulary growth), not linearly
    with tokens."""
    import shutil
    import tempfile

    from stock_ops_spark.streaming.spans import StreamingSpanIndex

    d = _read(spark, sf, "documents").select("doc_id", "text")
    n = d.count()
    root = tempfile.mkdtemp(prefix="curve_sspan_")
    try:
        idx = StreamingSpanIndex(spark, root)
        idx.process_batch(d)  # state grown to the full corpus (untimed)
        mx = d.agg(F.max("doc_id")).collect()[0][0]
        batch = (d.orderBy("doc_id").limit(500)
                 .withColumn("doc_id", F.col("doc_id") + F.lit(mx + 1))
                 .localCheckpoint(eager=True))
        t0 = time.perf_counter()
        nf = idx.process_batch(batch)
        el = time.perf_counter() - t0
        return n, nf, el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_ivf_stream_batch(spark, sf):
    """Unified streaming IVF index (r11): cost of ONE fixed 500-vector
    micro-batch folded against assign state grown to the full corpus.
    The claim: the fold is a fingerprint anti-join of the BATCH side
    against the state plus one map-side assignment — never a corpus
    re-assignment — so batch cost should stay ~flat as the state
    grows."""
    import shutil
    import tempfile

    from stock_ops_spark.operators import ivf as IVF
    from stock_ops_spark.streaming import ivf as SIVF

    e = _read(spark, sf, "embeddings").select("vec_id", "embedding")
    n = e.count()
    root = tempfile.mkdtemp(prefix="curve_sivf_")
    try:
        src = os.path.join(root, "emb.parquet")
        e.write.mode("overwrite").parquet(src)
        v0 = spark.read.parquet(src)
        idx = IVF.ivf_index_cached(
            v0, src, k_cells=16, iters=3, dim=64,
            cache_dir=os.path.join(root, "cache"),
        )
        sidx = SIVF.from_artifact(spark, os.path.join(root, "sivf"), idx)
        mx = e.agg(F.max("vec_id")).collect()[0][0]
        batch = (e.orderBy("vec_id").limit(500)
                 .withColumn("vec_id", F.col("vec_id") + F.lit(mx + 1))
                 .localCheckpoint(eager=True))
        t0 = time.perf_counter()
        nf = sidx.process_batch(batch)
        el = time.perf_counter() - t0
        assert nf == 500
        return n, nf, el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_lex_stream_batch(spark, sf):
    """Unified streaming lexical index (r11): cost of ONE fixed 500-doc
    micro-batch folded against BM25 state grown to the full corpus —
    fingerprint anti-join + tokenize the batch only + three appends,
    never a corpus re-tokenize; expected ~flat."""
    import shutil
    import tempfile

    from stock_ops_spark.streaming.lexical import StreamingLexicalIndex

    d = _read(spark, sf, "documents").select("doc_id", "text")
    n = d.count()
    root = tempfile.mkdtemp(prefix="curve_slex_")
    try:
        idx = StreamingLexicalIndex(spark, root)
        idx.process_batch(d)  # state grown to the full corpus (untimed)
        mx = d.agg(F.max("doc_id")).collect()[0][0]
        batch = (d.orderBy("doc_id").limit(500)
                 .withColumn("doc_id", F.col("doc_id") + F.lit(mx + 1))
                 .localCheckpoint(eager=True))
        t0 = time.perf_counter()
        nf = idx.process_batch(batch)
        el = time.perf_counter() - t0
        assert nf == 500
        return n, nf, el
    finally:
        shutil.rmtree(root, ignore_errors=True)


def p_fleet_fires(spark, sf):
    """Distributed RRULE fleet expansion (r11, scheduling.fire_times_df):
    one schedule per CUSTOMER (key-derived DAILY/WEEKLY/MONTHLY, interval,
    BYDAY, four IANA timezones) expanded over calendar 1996 in one
    declarative plan.  The claim: cost is |fleet| x window-days flat
    candidate rows with no shuffle before the final count -> k ~ 1, at
    the 1.5M-schedule top point (sf10) a per-schedule driver loop is
    architecturally out of the running."""
    from stock_ops_spark.scheduling import _WEEKDAYS, fire_times_df

    c = _read(spark, sf, "customer").select(
        F.col("c_custkey").cast("int").alias("k")
    )
    n = c.count()
    wd = F.lit(list(_WEEKDAYS))
    sch = c.select(
        F.col("k").cast("string").alias("deployment_id"),
        F.col("k").alias("schedule_id"),
        F.element_at(
            F.lit(["DAILY", "WEEKLY", "MONTHLY"]), (F.col("k") % 3 + 1).cast("int")
        ).alias("freq"),
        (F.col("k") % 4 + 1).cast("int").alias("interval"),
        F.when(
            F.col("k") % 3 == 1,
            F.array(F.element_at(wd, (F.col("k") % 7 + 1).cast("int"))),
        ).alias("byday"),
        F.lit(None).cast("array<int>").alias("bymonth"),
        F.lit(None).cast("array<int>").alias("bymonthday"),
        (F.lit(4) + F.col("k") % 20).cast("int").alias("byhour"),
        ((F.col("k") * 7) % 60).cast("int").alias("byminute"),
        F.lit(0).cast("int").alias("bysecond"),
        F.element_at(
            F.lit(["America/New_York", "UTC", "Asia/Tokyo", "Europe/London"]),
            (F.col("k") % 4 + 1).cast("int"),
        ).alias("tz"),
        F.lit("1996-01-01 06:00:00").alias("dtstart"),
        F.lit(None).cast("string").alias("until_utc"),
    )
    fires = fire_times_df(
        spark, sch, "1996-01-01 00:00:00", "1996-12-31 00:00:00"
    )
    t0 = time.perf_counter()
    out = fires.count()
    el = time.perf_counter() - t0
    return n, out, el


PIPELINES = {
    # name: (fn, scale points, driving table)
    "fleet_fires": (p_fleet_fires, WIDE4_SFS, "customer"),
    "minhash_pairs": (p_minhash, WIDE4_SFS, "documents"),
    "containment_pairs": (p_containment, QUAD_SFS, "documents"),
    "connected_components": (p_cc, LINEAR_SFS, "documents"),
    "pagerank_copurchase": (p_pagerank, LINEAR_SFS, "lineitem"),
    "fuzzy_names_blocked": (p_fuzzy_names, QUAD_SFS, "part"),
    "item_item_cosine": (p_item_cosine, LINEAR_SFS, "lineitem"),
    "exact_dedup": (p_exact_dedup, WIDE4_SFS, "documents"),
    "star_agg": (p_star_agg, WIDE4_SFS, "lineitem"),
    "editdist_passjoin": (p_editdist_passjoin, LINEAR_SFS, "documents"),
    "boilerplate_chunks": (p_boilerplate_chunks, WIDE_SFS, "documents"),
    "ngram_novelty": (p_ngram_novelty, WIDE_SFS, "documents"),
    "curation_funnel": (p_curation_funnel, WIDE4_SFS, "documents"),
    "heavy_hitter_tokens": (p_heavy_hitter_tokens, WIDE4_SFS, "documents"),
    "bucketed_build_join": (p_bucketed_build_join, WIDE_SFS, "lineitem"),
    "ivf_ann": (p_ivf_ann, WIDE_SFS, "embeddings"),
    "interval_overlap": (p_interval_overlap, WIDE_SFS, "events"),
    "bm25_retrieval": (p_bm25, WIDE4_SFS, "documents"),
    "dim_correlation": (p_dim_correlation, WIDE_SFS, "embeddings"),
    "ols_moments": (p_ols_moments, WIDE4_SFS, "lineitem"),
    "weighted_sample": (p_weighted_sample, WIDE4_SFS, "documents"),
    "rrf_hybrid": (p_rrf_hybrid, WIDE4_SFS, "documents"),
    "ivf_append_assign": (p_ivf_append_assign, WIDE4_SFS, "embeddings"),
    "span_delta": (p_span_delta, WIDE4_SFS, "documents"),
    "span_stream_batch": (p_span_stream_batch, WIDE4_SFS, "documents"),
    "ivf_stream_batch": (p_ivf_stream_batch, WIDE4_SFS, "embeddings"),
    "lex_stream_batch": (p_lex_stream_batch, WIDE4_SFS, "documents"),
    "ivf_refresh": (p_ivf_refresh, REFRESH_SFS, "embeddings"),
    "mv_minmax_retract": (p_mv_minmax_retract, WIDE_SFS, "events"),
    "cdc_view_sync": (p_cdc_view_sync, WIDE_SFS, "events"),
    "merge_touched_dirs": (p_merge_touched_dirs, WIDE_SFS, "events"),
}


def fit_exponent(points):
    """OLS slope of log(t) on log(rows)."""
    xs = [math.log(r) for r, _ in points]
    ys = [math.log(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    return sxy / sxx if sxx else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None)
    ap.add_argument("--repeat", type=int, default=1,
                    help="repeats per point; min is kept")
    args = ap.parse_args()
    names = (args.only.split(",") if args.only else list(PIPELINES))

    spark = get_spark("scale-curves", master="local[32]",
                      shuffle_partitions=32)
    # warm the JVM/codegen paths once
    spark.range(1000000).selectExpr("sum(id)").collect()

    results = {}
    for name in names:
        fn, sfs, table = PIPELINES[name]
        pts = []
        for sf in sfs:
            if not os.path.isdir(os.path.join(BASE, f"sf{sf}")):
                print(f"!! missing {BASE}/sf{sf} — run tools/scale_gen.py",
                      file=sys.stderr)
                return 2
            # one untimed warmup per point: JIT/codegen/scan caches are
            # session-global and would otherwise charge the first point
            # (the smoke run showed the first pipeline paying ~1.4 s of
            # one-time cost the later points never see)
            fn(spark, sf)
            best = None
            for _ in range(args.repeat):
                t0 = time.perf_counter()
                out = fn(spark, sf)
                el = time.perf_counter() - t0
                if len(out) == 3:          # pipeline timed its own section
                    rows, outn, el = out
                else:
                    rows, outn = out
                best = el if best is None else min(best, el)
            pts.append({"sf": sf, "rows": rows, "out_rows": outn,
                        "sec": round(best, 3)})
            print(f"{name} sf{sf}: rows={rows} out={outn} {best:.2f}s",
                  file=sys.stderr)
        k = fit_exponent([(p["rows"], p["sec"]) for p in pts])
        results[name] = {"points": pts, "exponent": round(k, 3),
                         "table": table}
    doc = {"base": BASE, "results": results}
    print(json.dumps(doc))
    if args.out:
        # --only runs merge into an existing record instead of dropping
        # the pipelines that were not re-timed
        if args.only and os.path.exists(args.out):
            with open(args.out) as f:
                prior = json.load(f)
            prior.get("results", {}).update(results)
            doc = {"base": BASE, "results": prior["results"]}
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
