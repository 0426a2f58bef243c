"""Retrieval (BM25/RRF), shard packing, TPC-H shape completion, graph kernels, closed-form model fitting, governance (q278-q309).

Split from the single-module registry in round 7 (the 18.6k-line file
was a standing mechanical-edit hazard — see STATUS r6 lessons).  The
driver contract is unchanged: ``stock_ops_spark.queries`` re-exports
``QUERIES``/``ORACLES`` and every query function; registration order is
preserved by ``__init__``'s import order.  Conventions: see
``stock_ops_spark/queries/_base.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from stock_ops_spark import catalog  # noqa: F401
from stock_ops_spark.functions import text as TXT  # noqa: F401
from stock_ops_spark.functions import vector as V  # noqa: F401
from stock_ops_spark.operators.asof import asof_join_nearest  # noqa: F401
from stock_ops_spark.operators.multimodal import (  # noqa: F401
    media_from_text,
    metadata_only_stats,
)
from stock_ops_spark.operators.ohlc import session_ohlc  # noqa: F401
from stock_ops_spark.operators.similarity import ivf_topk, knn_join  # noqa: F401
from stock_ops_spark.operators.versioning import latest_version_view  # noqa: F401

from stock_ops_spark.queries._base import (  # noqa: F401
    _local_df,
    _neardup_pairs,
    _register,
    _rev4,
    _t,
)

# ---------------------------------------------------------------------------
# Round-6 continued: retrieval, shard packing, cross-dim stats, gap-fill
# ---------------------------------------------------------------------------


_BM25_TERMS = ("spark", "join", "vector", "merge")



@_register(
    "q278_bm25_topk",
    """
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS t(term)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    s AS (SELECT (SELECT count(*) FROM documents) AS n,
                 (SELECT count(*) FROM toks)      AS t),
    q AS (SELECT * FROM (VALUES ('spark'), ('join'), ('vector'), ('merge'))
          AS v(term)),
    df AS (SELECT tf.term, count(*) AS df
           FROM tf JOIN q USING (term) GROUP BY tf.term),
    scored AS (
      SELECT tf.doc_id,
             CAST(
               (CAST(2 * s.n - 2 * df.df + 1 AS HUGEINT)
                  * CAST(22 * tf.tf AS HUGEINT)
                  * CAST(s.t AS HUGEINT) * 1000000)
               // (CAST(2 * df.df + 1 AS HUGEINT)
                     * (CAST(10 * s.t AS HUGEINT) * tf.tf
                        + CAST(3 * s.t AS HUGEINT)
                        + CAST(9 * dl.dl AS HUGEINT) * s.n))
               AS BIGINT) AS term_score
      FROM tf JOIN q USING (term) JOIN df ON df.term = tf.term
              JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN s
    ),
    docs AS (
      SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_hit_terms
      FROM scored GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, score, n_hit_terms,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM docs
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(doc_id AS BIGINT) AS doc_id,
           score, n_hit_terms
    FROM ranked WHERE rnk <= 10
    """,
)
def q278_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval, top-10 docs for a fixed multi-term query
    — the lexical-search complement to the embedding retrieval family
    (q18 exact cosine / q24 IVF / q259 quantized recall).  BM25
    (k1=1.2, b=0.75) is evaluated as an EXACT INTEGER RATIONAL so the
    ranking is bit-identical across engines (a float ln idf can flip
    rank-boundary ties): with N docs, T total tokens, per-doc length
    dl and term stats (tf, df),

        idf        = (N - df + .5) / (df + .5)  = (2N-2df+1) / (2df+1)
        tf-norm    = 2.2·tf / (tf + 1.2·(.25 + .75·dl·N/T))
                   = 22·tf·T / (10·T·tf + 3·T + 9·dl·N)      (×10T)
        term score = floor(idf · tf-norm · 1e6)   — exact integer DIV

    (the standard log idf is replaced by its rational core; same
    monotonicity in df, exact in 128-bit integer space: HUGEINT on
    DuckDB, DECIMAL(38,0) on Spark — products stay < 1e38 up to
    N≈1e9 docs / T≈1e12 tokens, documented bound).  Scale shape: tf
    one (doc,term) shuffle, dl one doc shuffle, the 4-term query frame
    and its df frame BROADCAST — the per-doc score agg touches only
    docs containing a query term; top-10 is a WindowGroupLimit.  Twin
    of a search service's retrieval stage; reference has no retrieval
    operator (SURVEY §2 extension surface)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != "")
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = d.count()  # bounded driver scalars (q74 precedent)
    t_total = toks.count()
    qterms = _local_df(spark, [(t,) for t in _BM25_TERMS], "term string")
    tfq = tf.join(F.broadcast(qterms), "term")
    dfq = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    num = (
        f"CAST(2 * {n_docs} - 2 * df + 1 AS DECIMAL(38,0))"
        f" * CAST(22 * tf AS DECIMAL(38,0))"
        f" * CAST({t_total} AS DECIMAL(38,0)) * 1000000"
    )
    den = (
        f"CAST(2 * df + 1 AS DECIMAL(38,0))"
        f" * (CAST(10 * {t_total} AS DECIMAL(38,0)) * tf"
        f"    + CAST(3 * {t_total} AS DECIMAL(38,0))"
        f"    + CAST(9 * dl AS DECIMAL(38,0)) * {n_docs})"
    )
    scored = (
        tfq.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.expr(f"CAST(({num}) DIV ({den}) AS BIGINT)").alias("term_score"),
        )
    )
    docs = scored.groupBy("doc_id").agg(
        F.sum("term_score").cast("bigint").alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_hit_terms"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "score",
            "n_hit_terms",
        )
    )


_SHARD_TOKEN_BUDGET = 2500


@_register(
    "q279_token_shard_packing",
    """
    WITH dl AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             x -> x <> '')) AS tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, tok,
             sum(tok) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM dl
    ),
    assigned AS (
      SELECT doc_id, tok, (cum - tok) // 2500 AS shard FROM cum
    )
    SELECT CAST(shard AS BIGINT)      AS shard,
           CAST(count(*) AS BIGINT)   AS n_docs,
           CAST(sum(tok) AS BIGINT)   AS tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY shard ORDER BY shard
    """,
)
def q279_token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment for training-data export: docs are
    packed IN STABLE doc_id ORDER into shards of ~2500 tokens by an
    exclusive running token count (shard = floor(exclusive_cum/budget))
    — every shard holds ≤ budget + one straddling doc, assignment is
    deterministic and insensitive to partitioning, and a downstream
    `write.partitionBy(shard)` emits balanced training files (the
    shard-writer companion to q96's within-capacity sequence packing
    and q252's band-level budget planner).  The running sum uses
    prefix_sum_chunked (doc_id-block buckets), NOT a global
    Window.orderBy — the unpartitioned window touches one row per
    64-doc block, so the shape survives a 1e9-doc corpus."""
    d = _t(spark, sf_dir, "documents")
    dl = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != "")
        )
        .cast("bigint")
        .alias("tok"),
    )
    from stock_ops_spark.operators.timeseries import prefix_sum_chunked

    cum = prefix_sum_chunked(
        dl, ts="doc_id", value="tok", bucket=F.expr("doc_id DIV 64")
    )
    assigned = cum.select(
        "doc_id",
        "tok",
        F.expr(f"(__cum - tok) DIV {_SHARD_TOKEN_BUDGET}").alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "tokens",
            "min_doc",
            "max_doc",
        )
        .orderBy("shard")
    )


@_register(
    "q280_embedding_dim_correlation",
    """
    WITH ex AS (
      SELECT vec_id, i.range AS d,
             CAST(round(CAST(embedding[i.range] AS DOUBLE) * 10000) AS BIGINT)
                 AS q
      FROM embeddings CROSS JOIN range(1, 65) i
    ),
    dims AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS s2
      FROM ex GROUP BY d
    ),
    pairs AS (
      SELECT a.d AS i, b.d AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sxy
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.d < b.d
      GROUP BY a.d, b.d
    ),
    covd AS (
      SELECT p.i, p.j,
             CAST(di.n * p.sxy - di.s * dj.s AS HUGEINT)          AS cov,
             CAST(di.n * di.s2 - di.s * di.s AS HUGEINT)          AS vi,
             CAST(dj.n * dj.s2 - dj.s * dj.s AS HUGEINT)          AS vj
      FROM pairs p JOIN dims di ON di.d = p.i JOIN dims dj ON dj.d = p.j
    ),
    scored AS (
      SELECT i, j,
             CAST((cov * cov * 10000) // (vi * vj) AS BIGINT) AS corr2_q,
             CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END AS sgn
      FROM covd WHERE vi > 0 AND vj > 0
    ),
    ranked AS (
      SELECT i, j, corr2_q, sgn,
             row_number() OVER (ORDER BY corr2_q DESC, i, j) AS rnk
      FROM scored
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(i AS BIGINT) AS dim_i,
           CAST(j AS BIGINT) AS dim_j, corr2_q, CAST(sgn AS BIGINT) AS sgn
    FROM ranked WHERE rnk <= 15
    """,
)
def q280_embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dimension correlation audit of the embedding space: the 15
    most correlated dimension pairs by exact squared Pearson
    correlation — redundant (highly correlated) dims mean wasted index
    bytes and are the first thing a dim-reduction pass would fold
    (complements q225's norm QA and q162's outlier scrub with a
    COLUMN-space health check).  Exactness: dims quantize to
    ten-thousandth integers (q162 discipline); corr² is ranked as the
    integer rational (n·Σxy − ΣxΣy)²·1e4 DIV (n·Σx²−(Σx)²)(n·Σy²−(Σy)²)
    in 128-bit space (DECIMAL(38,0) / HUGEINT — fits to ~1e4 docs ×
    64 dims at 1e4 quantization; beyond that drop the 1e4 scale).
    Scale shape (r8): the per-row pair-product HOF exploded d(d−1)/2
    structs per vector (~40M rows at sf1) into the (i,j) aggregate;
    the Gram matrix Mᵀ·M is the same integers computed as one numpy
    int64 matmul per Arrow batch inside ``mapInPandas`` (the audit's
    sanctioned vectorized-Python node) — each partition emits one
    65×65 triangle (pair sums + the diagonal s2 + a sum/count marker
    row), so the shuffle is a few thousand rows regardless of corpus
    size.  int64 accumulation is exact (|xq| ≤ ~1e4 quantized values ⇒
    products ≤ 1e8, 9.2e18 headroom) and addition order is irrelevant
    for integers, so the oracle hash is unchanged.  Measured at sf1:
    15.9 s → 2.1 s (7.5×).  Requires a fixed embedding dim per corpus
    (np.stack is ragged-intolerant — the table contract)."""
    e = _t(spark, sf_dir, "embeddings")
    qarr = F.expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000)"
        " AS BIGINT))"
    )
    base = e.select("vec_id", qarr.alias("q"))

    def gram(batches):
        import numpy as np
        import pandas as pd

        tot = None
        colsum = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            g = m.T @ m
            s = m.sum(axis=0)
            if tot is None:
                tot, colsum = g, s
            else:
                tot += g
                colsum += s
            n += m.shape[0]
        if tot is None:
            return
        d = tot.shape[0]
        ii, jj, vv = [], [], []
        for i in range(d):
            ii.append(i + 1)
            jj.append(0)  # j=0 marker: column sum s_i
            vv.append(int(colsum[i]))
            for j in range(i, d):
                ii.append(i + 1)
                jj.append(j + 1)
                vv.append(int(tot[i, j]))
        ii.append(0)
        jj.append(0)  # (0,0) marker: row count
        vv.append(n)
        yield pd.DataFrame({"i": ii, "j": jj, "v": vv})

    g = (
        base.select("q")
        .mapInPandas(gram, "i long, j long, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # three tiny consumers, one scan
    )
    nrow = g.where((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("v").alias("n")
    )
    dims = (
        g.where((F.col("i") > 0) & (F.col("j") == 0))
        .select(F.col("i").alias("d"), F.col("v").alias("s"))
        .join(
            g.where((F.col("i") > 0) & (F.col("i") == F.col("j"))).select(
                F.col("i").alias("d"), F.col("v").alias("s2")
            ),
            "d",
        )
        .crossJoin(F.broadcast(nrow))
    )
    pairs = g.where(
        (F.col("i") > 0) & (F.col("j") > F.col("i"))
    ).select("i", "j", F.col("v").alias("sxy"))
    di = dims.select(
        F.col("d").alias("i"),
        F.col("n").alias("ni"),
        F.col("s").alias("si"),
        F.col("s2").alias("s2i"),
    )
    dj = dims.select(
        F.col("d").alias("j"),
        F.col("s").alias("sj"),
        F.col("s2").alias("s2j"),
    )
    covd = (
        pairs.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            (F.col("ni") * F.col("sxy") - F.col("si") * F.col("sj")).alias("cov"),
            (F.col("ni") * F.col("s2i") - F.col("si") * F.col("si")).alias("vi"),
            (F.col("ni") * F.col("s2j") - F.col("sj") * F.col("sj")).alias("vj"),
        )
    )
    scored = covd.where((F.col("vi") > 0) & (F.col("vj") > 0)).select(
        "i",
        "j",
        F.expr(
            "CAST((CAST(cov AS DECIMAL(38,0)) * cov * 10000)"
            " DIV (CAST(vi AS DECIMAL(38,0)) * vj) AS BIGINT)"
        ).alias("corr2_q"),
        F.when(F.col("cov") > 0, 1)
        .when(F.col("cov") < 0, -1)
        .otherwise(0)
        .cast("bigint")
        .alias("sgn"),
    )
    w = Window.orderBy(F.col("corr2_q").desc(), F.col("i"), F.col("j"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 15)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("i").cast("bigint").alias("dim_i"),
            F.col("j").cast("bigint").alias("dim_j"),
            "corr2_q",
            "sgn",
        )
    )


@_register(
    "q281_price_gap_interpolation",
    """
    WITH obs AS (
      SELECT l_partkey AS pk,
             (year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1 AS m,
             (CAST(sum(round(l_extendedprice * 100)) AS BIGINT) * 1000)
               // count(*) AS avg_q
      FROM lineitem GROUP BY l_partkey, m
    ),
    bounds AS (SELECT min(m) AS mn, max(m) AS mx FROM obs),
    spine AS (
      SELECT pk, s.m
      FROM (SELECT DISTINCT pk FROM obs)
           CROSS JOIN bounds
           CROSS JOIN LATERAL unnest(range(bounds.mn, bounds.mx + 1)) AS s(m)
    ),
    grid AS (
      SELECT spine.pk, spine.m, obs.avg_q FROM spine
      LEFT JOIN obs ON obs.pk = spine.pk AND obs.m = spine.m
    ),
    ctx AS (
      SELECT pk, m, avg_q,
             last_value(avg_q IGNORE NULLS) OVER
               (PARTITION BY pk ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN avg_q IS NOT NULL THEN m END IGNORE NULLS)
               OVER (PARTITION BY pk ORDER BY m
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
             first_value(avg_q IGNORE NULLS) OVER
               (PARTITION BY pk ORDER BY m
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN avg_q IS NOT NULL THEN m END IGNORE NULLS)
               OVER (PARTITION BY pk ORDER BY m
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
      FROM grid
    ),
    filled AS (
      SELECT pk, m,
             CASE WHEN avg_q IS NOT NULL THEN 'observed'
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
                  ELSE 'unfilled' END AS kind,
             CASE WHEN avg_q IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
                  THEN ((nm - m) * pv + (m - pm) * nv) // (nm - pm)
             END AS interp_q
      FROM ctx
    )
    SELECT p.p_brand AS brand,
           CAST(count(DISTINCT f.pk) AS BIGINT)                     AS n_parts,
           CAST(sum(CASE WHEN kind = 'observed' THEN 1 ELSE 0 END)
                AS BIGINT)                                          AS observed,
           CAST(sum(CASE WHEN kind = 'interpolated' THEN 1 ELSE 0 END)
                AS BIGINT)                                          AS interpolated,
           CAST(sum(CASE WHEN kind = 'unfilled' THEN 1 ELSE 0 END)
                AS BIGINT)                                          AS unfilled,
           CAST(coalesce(sum(interp_q), 0) AS BIGINT)               AS interp_sum_q
    FROM filled f JOIN part p ON p.p_partkey = f.pk
    GROUP BY p.p_brand ORDER BY brand
    """,
)
def q281_price_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store gap-fill: each part's monthly average sale price is
    resampled onto the full month spine and interior gaps are LINEARLY
    INTERPOLATED between the neighboring observed months — the
    time-series feature-completion step between q109's forward-fill
    (carry) and a model-ready matrix.  Exactness: monthly averages are
    integer thousandths-of-a-cent ((cents·1000) DIV n); interpolation
    uses the all-positive weighted form ((nm−m)·prev + (m−pm)·next)
    DIV (nm−pm), identical truncation on both engines (the naive
    prev + Δ·frac form goes NEGATIVE when prices fall, where Spark DIV
    truncates toward zero but DuckDB // floors — measured divergence).
    Leading/trailing months stay unfilled (no extrapolation).  Scale
    shape: per-part windows partition on partkey (parallel); the month
    spine is partkeys × a BROADCAST 1-row bounds frame (≤ a few
    hundred months — spine rows ≈ 84·|parts|, linear in parts); brand
    rollup is one exchange.  Report is per-brand with an exact integer
    checksum over every interpolated value, so the gate pins each
    interpolation without emitting the full grid."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    m_expr = (F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1
    obs = (
        li.select(
            F.col("l_partkey").alias("pk"),
            m_expr.alias("m"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("pk", "m")
        .agg(
            F.expr("(CAST(sum(cents) AS BIGINT) * 1000) DIV count(*)").alias(
                "avg_q"
            )
        )
    )
    bounds = obs.agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
    spine = (
        obs.select("pk")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("pk", F.explode(F.sequence("mn", "mx")).alias("m"))
    )
    grid = spine.join(obs, ["pk", "m"], "left")
    w_back = (
        Window.partitionBy("pk").orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("pk").orderBy("m").rowsBetween(0, Window.unboundedFollowing)
    )
    known_m = F.when(F.col("avg_q").isNotNull(), F.col("m"))
    ctx = grid.select(
        "pk",
        "m",
        "avg_q",
        F.last("avg_q", ignorenulls=True).over(w_back).alias("pv"),
        F.last(known_m, ignorenulls=True).over(w_back).alias("pm"),
        F.first("avg_q", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(known_m, ignorenulls=True).over(w_fwd).alias("nm"),
    )
    filled = ctx.select(
        "pk",
        "m",
        F.when(F.col("avg_q").isNotNull(), F.lit("observed"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(), F.lit("interpolated")
        )
        .otherwise(F.lit("unfilled"))
        .alias("kind"),
        F.when(
            F.col("avg_q").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull(),
            F.expr("((nm - m) * pv + (m - pm) * nv) DIV (nm - pm)"),
        ).alias("interp_q"),
    )
    return (
        filled.join(
            pt.select(F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")),
            "pk",
        )
        .groupBy("brand")
        .agg(
            F.countDistinct("pk").cast("bigint").alias("n_parts"),
            F.sum(F.when(F.col("kind") == "observed", 1).otherwise(0))
            .cast("bigint")
            .alias("observed"),
            F.sum(F.when(F.col("kind") == "interpolated", 1).otherwise(0))
            .cast("bigint")
            .alias("interpolated"),
            F.sum(F.when(F.col("kind") == "unfilled", 1).otherwise(0))
            .cast("bigint")
            .alias("unfilled"),
            F.coalesce(F.sum("interp_q"), F.lit(0)).cast("bigint").alias(
                "interp_sum_q"
            ),
        )
        .orderBy("brand")
    )


@_register(
    "q282_rag_chunking",
    """
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS words
      FROM documents
    ),
    shaped AS (
      SELECT doc_id, source, words, len(words) AS n,
             1 + CAST(ceil(greatest(len(words) - 50, 0) / 40.0) AS BIGINT)
               AS n_chunks
      FROM w WHERE len(words) > 0
    ),
    chunks AS (
      SELECT doc_id, source,
             least(50, n - 40 * k.range) AS chunk_len,
             md5(array_to_string(
               list_slice(words, 40 * k.range + 1,
                          40 * k.range + least(50, n - 40 * k.range)), ' '))
               AS fp
      FROM shaped CROSS JOIN range(0, 1000) k
      WHERE k.range < n_chunks
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)               AS n_chunks,
           CAST(count(DISTINCT fp) AS BIGINT)     AS uniq_chunks,
           CAST(sum(chunk_len) AS BIGINT)         AS sum_tokens,
           round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 6)
               AS dup_chunk_ratio
    FROM chunks GROUP BY source ORDER BY source
    """,
)
def q282_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion chunking: every document splits into overlapping
    50-word windows with stride 40 (10-word overlap, the standard
    retrieval-chunk shape), each chunk fingerprinted (md5 of its
    space-joined words) — reported per source as chunk counts, token
    volume, and the CROSS-CORPUS duplicate-chunk ratio (duplicate
    chunks bloat a vector index and skew retrieval; this is the
    pre-embedding audit, upstream of q18/q24/q259's search stack and
    distinct from q255's exact-tile boilerplate DETECTOR: here the
    windows overlap and the unit is the retrieval chunk itself).
    Chunk enumeration is a per-row HOF (sequence bounded by the doc's
    own chunk count — no unbounded range join); the only shuffles are
    the per-source distinct aggregates.  The 1000-chunk/doc cap in the
    oracle's range() is a DuckDB enumeration artifact; Spark's
    sequence() is exact per doc — docs here are ≤ a few hundred words
    (40k-word docs would need the cap raised in the oracle only)."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "source",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
        ).alias("words"),
    )
    shaped = w.where(F.size("words") > 0).select(
        "doc_id",
        "source",
        "words",
        F.size("words").alias("n"),
        (
            1
            + F.ceil(F.greatest(F.size("words") - 50, F.lit(0)) / 40.0).cast(
                "bigint"
            )
        ).alias("n_chunks"),
    )
    chunks = shaped.select(
        "doc_id",
        "source",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("k"),
        "words",
        "n",
    ).select(
        "doc_id",
        "source",
        F.expr("least(50, n - 40 * k)").alias("chunk_len"),
        F.md5(
            F.expr("array_join(slice(words, 40 * k + 1, least(50, n - 40 * k)), ' ')")
        ).alias("fp"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("fp").cast("bigint").alias("uniq_chunks"),
            F.sum("chunk_len").cast("bigint").alias("sum_tokens"),
            F.round(
                1.0 - F.countDistinct("fp") / F.count(F.lit(1)), 6
            ).alias("dup_chunk_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# TPC-H shape completion: the remaining classic query forms, adapted to
# this testdata's slimmed schema (no partsupp/container/commitdate — the
# lineitem fact stands in as the part×supplier relation; "late" means
# shipped long after the order date).  With q01/q06/q235-q242 these
# close out all 22 classic shapes.
# ---------------------------------------------------------------------------


@_register(
    "q283_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             (CAST(sum(round(l_extendedprice * 100)) AS BIGINT) * 1000)
               // CAST(sum(round(l_quantity)) AS BIGINT) AS cost_q
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, round(s_acctbal, 2) AS bal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT c.pk, c.sk, c.cost_q, e.s_name, e.bal, e.n_name,
             row_number() OVER (PARTITION BY c.pk
                                ORDER BY c.cost_q, c.sk) AS rnk
      FROM cost c JOIN eu e ON e.s_suppkey = c.sk
    ),
    best AS (SELECT * FROM cand WHERE rnk = 1),
    top AS (
      SELECT *, row_number() OVER (ORDER BY bal DESC, pk) AS rk FROM best
    )
    SELECT bal AS s_acctbal, s_name, n_name AS nation,
           CAST(pk AS BIGINT) AS p_partkey, p.p_name,
           CAST(cost_q AS BIGINT) AS unit_cost_q
    FROM top JOIN part p ON p.p_partkey = top.pk
    WHERE rk <= 20
    """,
)
def q283_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part, the CHEAPEST European supplier —
    observed unit price (exact integer thousandths-of-a-cent: cents·1000
    DIV units) over the lineitem history stands in for partsupp's
    supplycost.  The classic correlated MIN subquery becomes a per-part
    ranking window (min cost, suppkey tiebreak), then the classic
    output order (acctbal DESC) with a partkey tiebreak caps at 20.
    Scale shape: the (part,supp) cost agg is one fact shuffle;
    supplier⋈nation⋈region broadcast; the per-part window partitions on
    partkey (parallel, WindowGroupLimit top-1); part joins the 20-row
    result (broadcast the RESULT side, not part)."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.expr(
            "(CAST(sum(round(l_extendedprice * 100)) AS BIGINT) * 1000)"
            " DIV CAST(sum(round(l_quantity)) AS BIGINT)"
        ).alias("cost_q")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("bal"),
            "n_name",
        )
    )
    w_part = Window.partitionBy("pk").orderBy("cost_q", "sk")
    best = (
        cost.join(F.broadcast(eu), cost.sk == F.col("s_suppkey"))
        .withColumn("rnk", F.row_number().over(w_part))
        .where(F.col("rnk") == 1)
    )
    w_top = Window.orderBy(F.col("bal").desc(), F.col("pk"))
    top = best.withColumn("rk", F.row_number().over(w_top)).where(F.col("rk") <= 20)
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return top.join(pt, top.pk == F.col("p_partkey")).select(
        F.col("bal").alias("s_acctbal"),
        "s_name",
        F.col("n_name").alias("nation"),
        F.col("pk").cast("bigint").alias("p_partkey"),
        "p_name",
        F.col("cost_q").cast("bigint").alias("unit_cost_q"),
    )


@_register(
    "q284_late_ship_priority",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-07-01'
      AND o.o_orderdate <  TIMESTAMP '1995-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q284_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority census of one quarter's orders
    that had AT LEAST ONE badly late line (shipped >90 days after the
    order — the commitdate<receiptdate predicate of the classic,
    re-expressed on this schema).  The EXISTS becomes a LEFT SEMI join
    with the date comparison as a join condition (the correlated
    predicate references both sides, so it rides the join, not a
    filter).  Scale shape: the quarter filter prunes orders at the
    scan; one orderkey shuffle for the semi join; lineitem needs only
    (orderkey, shipdate) — column-pruned scan."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


@_register(
    "q285_nation_pair_volume",
    """
    SELECT CASE WHEN sn.n_nationkey % 2 = 0 THEN 'EVEN_BLOC' ELSE 'ODD_BLOC'
           END AS supp_bloc,
           CASE WHEN cn.n_nationkey % 2 = 0 THEN 'EVEN_BLOC' ELSE 'ODD_BLOC'
           END AS cust_bloc,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                          AS BIGINT))::DOUBLE / 10000, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_nationkey % 2 <> cn.n_nationkey % 2
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY supp_bloc, cust_bloc, year(l.l_shipdate)
    """,
)
def q285_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border shipping volume between two trading
    blocs (even- vs odd-numbered nations — blocs rather than a literal
    nation pair so every scale factor has members on both sides), in
    both directions, by ship year.  Scale shape: supplier⋈nation and
    customer⋈nation reduce to a bloc tag BEFORE the fact joins
    (broadcast dims); the cross-bloc predicate rides the joined frame;
    one orderkey shuffle + one custkey shuffle; final agg has
    ≤ 2·2·years keys.  Revenue exact at 4dp."""
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 2 == 0, "EVEN_BLOC")
        .otherwise("ODD_BLOC")
        .alias("bloc"),
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("bloc").alias("supp_bloc"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("bloc").alias("cust_bloc"))
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", F.year("l_shipdate").alias("l_year"),
             _rev4().alias("rev4"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_bloc") != F.col("cust_bloc"))
        .groupBy("supp_bloc", "cust_bloc", "l_year")
        .agg(F.sum("rev4").alias("rev4"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "supp_bloc",
            "cust_bloc",
            F.col("l_year").cast("bigint").alias("l_year"),
            F.round(F.col("rev4") / 10000, 4).alias("revenue"),
            F.col("n_items").cast("bigint").alias("n_items"),
        )
    )


@_register(
    "q286_market_share",
    """
    WITH base AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS rev4,
             sn.n_regionkey AS supp_region
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           round(sum(CASE WHEN supp_region = 2 THEN rev4
                          ELSE 0 END)::DOUBLE / sum(rev4), 6) AS mkt_share,
           round(sum(CASE WHEN supp_region = 2 THEN rev4
                          ELSE 0 END)::DOUBLE / 10000, 4)     AS nation_rev,
           round(sum(rev4)::DOUBLE / 10000, 4)                AS total_rev
    FROM base GROUP BY o_year
    """,
)
def q286_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the market share ASIA-BASED suppliers hold of
    ECONOMY-type part revenue sold to ASIA customers, by order year
    (region-level seller rather than the classic single nation, so
    every scale factor has sellers on both sides of the share).  The share divides
    two EXACT integer revenue sums (the conditional numerator is the
    classic CASE-inside-sum), so the 6dp ratio is the same double on
    both engines.  Scale shape: part (type-filtered) and the
    supplier/nation/region dims broadcast and prune the fact scan;
    orders⋈customer carries the region filter into the custkey
    shuffle; final agg is per-year."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cnk"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cnk")
    ).select("c_custkey")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_regionkey").alias("supp_region")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("snk")
    ).select("s_suppkey", "supp_region")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", _rev4().alias("rev4")
    )
    base = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    nation_rev = F.sum(
        F.when(F.col("supp_region") == 2, F.col("rev4")).otherwise(0)
    )
    return (
        base.groupBy("o_year")
        .agg(
            nation_rev.alias("nrev"),
            F.sum("rev4").alias("trev"),
        )
        .select(
            F.col("o_year").cast("bigint").alias("o_year"),
            F.round(F.col("nrev") / F.col("trev"), 6).alias("mkt_share"),
            F.round(F.col("nrev") / 10000, 4).alias("nation_rev"),
            F.round(F.col("trev") / 10000, 4).alias("total_rev"),
        )
    )


@_register(
    "q287_returned_item_customers",
    """
    WITH rev AS (
      SELECT o.o_custkey AS ck,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                      AS BIGINT)) AS rev4
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-10-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY o.o_custkey
    ),
    ranked AS (
      SELECT ck, rev4, row_number() OVER (ORDER BY rev4 DESC, ck) AS rnk
      FROM rev
    )
    SELECT CAST(r.ck AS BIGINT) AS c_custkey, c.c_name,
           round(r.rev4::DOUBLE / 10000, 4) AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal, n.n_name AS nation
    FROM ranked r
    JOIN customer c ON c.c_custkey = r.ck
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE r.rnk <= 20
    """,
)
def q287_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in one quarter — the churn-risk escalation list.  Scale shape: the
    returnflag + quarter filters prune the fact scan; one orderkey
    shuffle, one custkey agg; the TOP-20 ranking runs over the
    aggregated per-customer frame (WindowGroupLimit) and only those 20
    rows join back to customer/nation for display attributes — at
    100 TB the display join touches 20 rows, not the customer table."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", _rev4().alias("rev4")
    )
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.sum("rev4").alias("rev4"))
    )
    w = Window.orderBy(F.col("rev4").desc(), F.col("ck"))
    top = rev.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 20)
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(top), F.col("c_custkey") == F.col("ck"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("ck").cast("bigint").alias("c_custkey"),
            "c_name",
            F.round(F.col("rev4") / 10000, 4).alias("revenue"),
            "c_acctbal",
            F.col("n_name").alias("nation"),
        )
    )


@_register(
    "q288_important_parts",
    """
    WITH val AS (
      SELECT l_partkey AS pk,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS val4
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(val4) AS total,
                   quantile_cont(val4, 0.9) AS thr FROM val)
    SELECT CAST(v.pk AS BIGINT) AS p_partkey, p.p_name, p.p_brand,
           round(v.val4::DOUBLE / 10000, 4) AS part_value,
           round(v.val4::DOUBLE / t.total, 6) AS value_share
    FROM val v CROSS JOIN tot t JOIN part p ON p.p_partkey = v.pk
    WHERE v.val4 > t.thr
    """,
)
def q288_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: "important stock" — parts whose traded value
    puts them ABOVE THE 90th PERCENTILE of traded value (the classic's
    0.0001/SF value fraction must be retuned per scale factor, and a
    mean-multiple threshold empties as CLT narrows the distribution —
    a percentile cut selects ~10% at every SF).  The threshold is the
    exact interpolated p90 over exact integer values (q136/q166
    discipline), broadcast back as a 1-row frame — selection is a
    filter, NOT a global rank window (a rank·10 ≤ n cut cannot fold to
    WindowGroupLimit and would drag every part through one task at
    scale; q145/q151 use the same broadcast-threshold move).
    Scale shape: one partkey agg over the fact; 1-row total+threshold
    broadcast; part joins for display on the surviving rows only."""
    li = _t(spark, sf_dir, "lineitem")
    val = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_rev4()).alias("val4")
    )
    tot = val.agg(
        F.sum("val4").alias("total"),
        F.expr("percentile(val4, 0.9)").alias("thr"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    return (
        val.crossJoin(F.broadcast(tot))
        .where(F.col("val4") > F.col("thr"))
        .join(p, F.col("pk") == F.col("p_partkey"))
        .select(
            F.col("pk").cast("bigint").alias("p_partkey"),
            "p_name",
            "p_brand",
            F.round(F.col("val4") / 10000, 4).alias("part_value"),
            F.round(F.col("val4") / F.col("total"), 6).alias("value_share"),
        )
    )


@_register(
    "q289_promo_revenue_share",
    """
    SELECT round(sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                          * 10000) AS BIGINT)
                          ELSE 0 END)::DOUBLE
                 / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)), 6) AS promo_share,
           round(sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                          * 10000) AS BIGINT)
                          ELSE 0 END)::DOUBLE / 10000, 4)  AS promo_rev,
           round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                          AS BIGINT))::DOUBLE / 10000, 4)  AS total_rev,
           CAST(count(*) AS BIGINT)                        AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01'
    """,
)
def q289_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO-type parts' share of one month's revenue —
    the marketing-effect monitor.  Both the conditional numerator and
    the total are exact integer ten-thousandths, divided once at the
    end (6dp).  Scale shape: the month filter prunes the fact scan to
    ~1/84 of the data BEFORE the part join; part broadcast; single
    global agg (map-side combined)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    ).select("l_partkey", _rev4().alias("rev4"))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("rev4")).otherwise(0)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            promo.alias("prev4"),
            F.sum("rev4").alias("trev4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.round(F.col("prev4") / F.col("trev4"), 6).alias("promo_share"),
            F.round(F.col("prev4") / 10000, 4).alias("promo_rev"),
            F.round(F.col("trev4") / 10000, 4).alias("total_rev"),
            F.col("n_items").cast("bigint").alias("n_items"),
        )
    )


@_register(
    "q290_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS sk,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT max(rev4) AS m FROM rev)
    SELECT CAST(r.sk AS BIGINT) AS s_suppkey, s.s_name,
           round(r.rev4::DOUBLE / 10000, 4) AS total_revenue
    FROM rev r CROSS JOIN mx JOIN supplier s ON s.s_suppkey = r.sk
    WHERE r.rev4 = mx.m
    """,
)
def q290_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the quarter's top revenue supplier(s) — the
    classic's CREATE VIEW + scalar-max correlated filter, expressed as
    an aggregate reused twice (Catalyst computes the per-supplier
    frame once into the max and the equality filter; ties ALL emit,
    classic semantics — exact integer revenue makes the tie test
    deterministic).  Scale shape: quarter-pruned fact scan, one
    suppkey agg, 1-row max broadcast, display join on survivors."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.sum(_rev4()).alias("rev4")
    )
    mx = rev.agg(F.max("rev4").alias("m"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev4") == F.col("m"))
        .join(F.broadcast(s), F.col("sk") == F.col("s_suppkey"))
        .select(
            F.col("sk").cast("bigint").alias("s_suppkey"),
            "s_name",
            F.round(F.col("rev4") / 10000, 4).alias("total_revenue"),
        )
    )


@_register(
    "q291_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(round(l_quantity)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(round(l_quantity)) > 250
    ),
    ranked AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice,
             b.sum_qty,
             row_number() OVER (ORDER BY o.o_totalprice DESC, o.o_orderkey)
               AS rnk
      FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
    )
    SELECT c.c_name, CAST(r.o_custkey AS BIGINT) AS c_custkey,
           CAST(r.o_orderkey AS BIGINT) AS o_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(r.o_totalprice, 2) AS o_totalprice, r.sum_qty
    FROM ranked r JOIN customer c ON c.c_custkey = r.o_custkey
    WHERE r.rnk <= 20
    """,
)
def q291_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity > 250, the
    ~p99 tail) and the customers who placed them, top-20 by order
    value.  The classic's IN (GROUP BY ... HAVING) subquery is the
    aggregate-then-join form directly.  Scale shape: one orderkey agg
    with the HAVING filter applied in the agg (survivors ≈ 1% of
    orders), join back to orders on orderkey, top-20 via
    WindowGroupLimit, display join to customer on the 20 survivors
    (broadcast the result side)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity", 0)).cast("bigint").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    ranked = (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        c.join(F.broadcast(ranked), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            F.col("o_custkey").cast("bigint").alias("c_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


@_register(
    "q292_banded_disjunctive_revenue",
    """
    SELECT round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                          AS BIGINT))::DOUBLE / 10000, 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_type = 'SMALL' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_type = 'LARGE' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q292_banded_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from an OR-of-ANDs of (part attribute ×
    quantity band) predicates — the disjunctive-pushdown exercise (no
    container/brand triple in this schema; type × size × quantity
    carries the same structure).  Catalyst extracts the common
    join key and pushes the part-only disjuncts (type, size) to the
    part scan and the quantity bounds (l_quantity BETWEEN 1 AND 40
    overall) to the fact scan before the join evaluates the full
    disjunction.  Scale shape: part broadcast after its filter; single
    global agg."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _rev4().alias("rev4")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    cond = (
        (
            (F.col("p_type") == "SMALL")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_type") == "MEDIUM")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_type") == "LARGE")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.round(F.sum("rev4") / 10000, 4).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@_register(
    "q293_suppliers_kept_waiting",
    """
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late,
             max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
      FROM lo GROUP BY l_orderkey
    ),
    blamed AS (
      SELECT late_supp AS sk, count(*) AS numwait
      FROM per_order WHERE n_supp >= 2 AND n_late = 1
      GROUP BY late_supp
    ),
    ranked AS (
      SELECT sk, numwait, row_number() OVER (ORDER BY numwait DESC, sk) AS rnk
      FROM blamed
    )
    SELECT s.s_name, CAST(r.numwait AS BIGINT) AS numwait
    FROM ranked r JOIN supplier s ON s.s_suppkey = r.sk
    WHERE r.rnk <= 10
    """,
)
def q293_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finished multi-supplier orders (late = shipped >60 days after the
    order date on this schema).  The classic's EXISTS(other supplier) +
    NOT EXISTS(other LATE supplier) pair of correlated self-joins
    collapses into ONE per-(order,supplier) aggregate and ONE per-order
    aggregate: n_supp ≥ 2 ∧ n_late = 1 is exactly "someone else was on
    the order and nobody else was late", and the max(CASE) picks the
    blamed supplier because it is unique when n_late = 1.  Scale
    shape: two orderkey-keyed aggregates replace the classic's THREE
    lineitem self-join scans — one fact shuffle each, no self-join;
    top-10 via WindowGroupLimit; supplier display join on 10 rows."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAYS"), 1
                ).otherwise(0)
            ).alias("late")
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = (
        per_order.where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy(F.col("late_supp").alias("sk"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    w = Window.orderBy(F.col("numwait").desc(), F.col("sk"))
    ranked = blamed.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 10
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(ranked), F.col("s_suppkey") == F.col("sk")).select(
        "s_name", F.col("numwait").cast("bigint").alias("numwait")
    )


@_register(
    "q294_dormant_rich_customers",
    """
    WITH cents AS (
      SELECT c_custkey, c_custkey % 7 AS cntrycode,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ),
    avgpos AS (
      SELECT sum(bal_c) AS s, count(*) AS n FROM cents WHERE bal_c > 0
    ),
    dormant AS (
      SELECT ce.cntrycode, ce.bal_c
      FROM cents ce CROSS JOIN avgpos a
      WHERE ce.cntrycode IN (1, 2, 4)
        AND ce.bal_c * a.n > a.s
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = ce.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '1999-08-01')
    )
    SELECT CAST(cntrycode AS BIGINT) AS cntrycode,
           CAST(count(*) AS BIGINT)  AS numcust,
           round(sum(bal_c)::DOUBLE / 100, 2) AS totacctbal
    FROM dormant GROUP BY cntrycode ORDER BY cntrycode
    """,
)
def q294_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: "global sales opportunity" — customers in
    selected country bands (custkey mod 7 stands in for the phone
    prefix) whose balance beats the positive-balance average but who
    have gone DORMANT — no orders in the final two years of the
    calendar (this data has no never-ordered customers, so the
    classic's empty-history test becomes a recency test; same anti-join
    shape with the date filter pushed to the orders scan).  The above-average test is the exact integer
    cross-product bal·n > sum (a float average threshold can flip
    boundary customers between engines); the NOT EXISTS is a LEFT ANTI
    join on custkey.  Scale shape: 1-row average broadcast; the anti
    join is the only fact shuffle (orders needs just o_custkey —
    column-pruned); final agg has ≤ 3 keys."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 7).alias("cntrycode"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal_c"),
    )
    avgpos = c.where(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-08-01").cast("timestamp")
    ).select("o_custkey")
    dormant = (
        c.where(F.col("cntrycode").isin(1, 2, 4))
        .crossJoin(F.broadcast(avgpos))
        .where(F.col("bal_c") * F.col("n") > F.col("s"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        dormant.groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("bal_c") / 100, 2).alias("totacctbal"),
        )
        .select(
            F.col("cntrycode").cast("bigint").alias("cntrycode"),
            "numcust",
            "totacctbal",
        )
        .orderBy("cntrycode")
    )


@_register(
    "q295_join_key_skew_profile",
    """
    WITH prof AS (
      SELECT 'l_orderkey' AS join_key, count(*) AS c
      FROM lineitem GROUP BY l_orderkey
      UNION ALL
      SELECT 'l_partkey', count(*) FROM lineitem GROUP BY l_partkey
      UNION ALL
      SELECT 'l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey
    )
    SELECT join_key,
           CAST(count(*) AS BIGINT)        AS n_keys,
           CAST(sum(c) AS BIGINT)          AS n_rows,
           CAST(max(c) AS BIGINT)          AS max_rows,
           round(quantile_cont(c, 0.5), 4) AS p50_rows,
           round(quantile_cont(c, 0.99), 4) AS p99_rows,
           round(max(c)::DOUBLE / sum(c), 6) AS top1_share,
           CAST(CASE WHEN max(c) > 10 * quantile_cont(c, 0.5)
                     THEN 1 ELSE 0 END AS BIGINT) AS salt_recommended
    FROM prof GROUP BY join_key ORDER BY join_key
    """,
)
def q295_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: per-key row-count distribution of the
    fact table's three join keys (orderkey, partkey, suppkey) — key
    cardinality, hottest-key share, exact interpolated p50/p99 and a
    salt-recommended flag (hottest key >10× the median — the threshold
    at which AQE's skew-join split stops being enough and
    operators/skew.py's explicit salting pays for itself; this query
    IS the measurement that decision consumes, alongside
    plans/sizing.py's volume rules).  Scale shape: one map-side-
    combined shuffle per profiled key; the distribution stats aggregate
    the per-key count frames (second, much smaller shuffle); exact
    percentiles follow the q136/q166 discipline."""
    li = _t(spark, sf_dir, "lineitem")
    profs = []
    for key in ("l_orderkey", "l_partkey", "l_suppkey"):
        profs.append(
            li.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(key).alias("join_key"), "c")
        )
    prof = profs[0].unionByName(profs[1]).unionByName(profs[2])
    return (
        prof.groupBy("join_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_rows"),
            F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50_rows"),
            F.round(F.expr("percentile(c, 0.99)"), 4).alias("p99_rows"),
            F.round(F.max("c") / F.sum("c"), 6).alias("top1_share"),
            F.when(F.expr("max(c) > 10 * percentile(c, 0.5)"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("salt_recommended"),
        )
        .orderBy("join_key")
    )


@_register(
    "q296_fk_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           CAST((SELECT count(*) FROM nation) AS BIGINT),
           CAST((SELECT count(*) FROM nation n
                 WHERE NOT EXISTS (SELECT 1 FROM region r
                                   WHERE r.r_regionkey = n.n_regionkey))
                AS BIGINT)
    """,
)
def q296_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-wide referential-integrity audit: orphan counts for every
    foreign key in the star schema (the load-verification query a
    warehouse runs after every batch; parquet enforces nothing, so the
    audit IS the constraint).  Each edge is one LEFT ANTI join counting
    rows whose FK has no parent.  Scale shape: dimension parents
    (part/supplier/customer/nation/region) broadcast their key column;
    the lineitem→orders edge is the one genuine fact-fact anti join
    (orderkey shuffle); every scan is pruned to the key column alone.
    All-zero orphans is the expected (and asserted-by-eye) steady
    state — the query's value is that a nonzero ever appearing pins
    WHERE the pipeline broke."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = [
        (
            "lineitem.l_orderkey->orders",
            li.select("l_orderkey"),
            o.select("o_orderkey"),
            "l_orderkey",
            "o_orderkey",
            False,
        ),
        (
            "lineitem.l_partkey->part",
            li.select("l_partkey"),
            _t(spark, sf_dir, "part").select("p_partkey"),
            "l_partkey",
            "p_partkey",
            True,
        ),
        (
            "lineitem.l_suppkey->supplier",
            li.select("l_suppkey"),
            _t(spark, sf_dir, "supplier").select("s_suppkey"),
            "l_suppkey",
            "s_suppkey",
            True,
        ),
        (
            "orders.o_custkey->customer",
            o.select("o_custkey"),
            _t(spark, sf_dir, "customer").select("c_custkey"),
            "o_custkey",
            "c_custkey",
            True,
        ),
        (
            "customer.c_nationkey->nation",
            _t(spark, sf_dir, "customer").select("c_nationkey"),
            _t(spark, sf_dir, "nation").select("n_nationkey"),
            "c_nationkey",
            "n_nationkey",
            True,
        ),
        (
            "nation.n_regionkey->region",
            _t(spark, sf_dir, "nation").select("n_regionkey"),
            _t(spark, sf_dir, "region").select("r_regionkey"),
            "n_regionkey",
            "r_regionkey",
            True,
        ),
    ]
    outs = []
    for name, child, parent, ck, pk, bcast in edges:
        par = F.broadcast(parent) if bcast else parent
        orphans = child.join(par, F.col(ck) == F.col(pk), "left_anti")
        outs.append(
            child.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_orphans")
                )
            )
            .select(F.lit(name).alias("fk"), "n_rows", "n_orphans")
        )
    res = outs[0]
    for df in outs[1:]:
        res = res.unionByName(df)
    return res


# ---------------------------------------------------------------------------
# Corpus governance + closed-form model fitting (round-6 continued)
# ---------------------------------------------------------------------------


@_register(
    "q297_blocklist_redaction_audit",
    """
    WITH w AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    )
    SELECT source, w AS term,
           CAST(count(*) AS BIGINT)              AS n_hits,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
           CAST(count(*) * length(w) AS BIGINT)  AS matched_chars
    FROM w
    WHERE w IN ('spark', 'slow', 'big')
    GROUP BY source, w
    ORDER BY source, term
    """,
)
def q297_blocklist_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term blocklist scan over the corpus — the PII/banned-term
    redaction audit a curation pipeline runs before release (per source
    x term: occurrence count, affected-doc count, and the exact char
    volume a redaction pass would rewrite).  The container corpus has
    no synthetic PII, so the blocklist here is three live vocabulary
    terms; the machinery (multi-pattern token scan -> per-source audit)
    is the redaction-audit shape, and swapping the term set for
    email/phone regex classes is a one-line change.  Scale shape: the
    blocklist filter runs INSIDE the row (array filter on the split,
    before any explode), so only matching tokens ever leave the scan —
    the exploded stream is hits-sized, not corpus-token-sized; one
    map-combinable shuffle on (source, term); count(DISTINCT doc_id)
    expands to the standard two-phase distinct aggregate."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.explode(
            F.filter(
                F.split("text", " "),
                lambda w: w.isin("spark", "slow", "big"),
            )
        ).alias("term"),
    )
    return (
        d.groupBy("source", "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_hit"),
            (F.count(F.lit(1)) * F.length("term"))
            .cast("bigint")
            .alias("matched_chars"),
        )
        .orderBy("source", "term")
    )


@_register(
    "q298_temperature_sampling_mix",
    """
    WITH t AS (
      SELECT source,
             sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (
      SELECT list_aggregate(list(sqrt(n_tokens::DOUBLE) ORDER BY source),
                            'sum') AS z
      FROM t
    )
    SELECT t.source,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           round(sqrt(t.n_tokens::DOUBLE) / z.z, 6) AS sample_prob,
           CAST(round(10000000.0 * (sqrt(t.n_tokens::DOUBLE) / z.z))
                AS BIGINT) AS expected_tokens,
           round(10000000.0 * (sqrt(t.n_tokens::DOUBLE) / z.z)
                 / t.n_tokens::DOUBLE, 4) AS epochs
    FROM t CROSS JOIN z
    ORDER BY t.source
    """,
)
def q298_temperature_sampling_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source sampling mix (tau = 0.5): the
    standard multilingual/multi-source rebalancing rule p_s ~ T_s^tau
    that upweights small sources without letting any source dominate
    (tau = 0.5 => sqrt, which is IEEE-754 correctly rounded in both
    engines — the one temperature whose power function is bit-exact
    cross-engine; q252's planner does exact band selection, this one
    does proportional rebalancing).  For a 10M-token budget, reports
    each source's sampling probability, expected token draw, and epoch
    multiplier (>1 means the source repeats).  The 20-term
    normalization constant is a float sum accumulated in SORTED source
    order on both engines (q207/q257 fixed-order discipline).  Scale
    shape: one map-combinable per-source token-count shuffle; the
    source-level frame (20 rows) is driver-trivial thereafter."""
    t = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    )
    z = t.agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(source, "
            "sqrt(cast(n_tokens as double)) as sq))), "
            "cast(0.0 as double), (acc, x) -> acc + x.sq)"
        ).alias("z")
    )
    p = F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")
    return (
        t.crossJoin(F.broadcast(z))
        .select(
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(p, 6).alias("sample_prob"),
            F.round(F.lit(10000000.0) * p, 0)
            .cast("bigint")
            .alias("expected_tokens"),
            F.round(
                F.lit(10000000.0) * p / F.col("n_tokens").cast("double"), 4
            ).alias("epochs"),
        )
        .orderBy("source")
    )


# Closed-form OLS (q299/q300): second-stage double formulas are shared
# template strings so Spark and DuckDB evaluate the exact same IEEE-754
# operation tree over the exact same integer moments — determinism by
# construction, not by rounding luck.
_OLS3_DET = (
    "(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
)
_OLS3_DET0 = (
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
    " + s2*(s1y*s12 - s11*s2y))"
)
_OLS3_DET1 = (
    "(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
)
_OLS3_DET2 = (
    "(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"
)
_OLS3_R2 = (
    f"(1.0 - (syy - {_OLS3_DET0}/{_OLS3_DET}*sy"
    f" - {_OLS3_DET1}/{_OLS3_DET}*s1y"
    f" - {_OLS3_DET2}/{_OLS3_DET}*s2y)"
    " / (syy - sy*sy/n))"
)
_OLS3_EXPRS = [
    "CAST(n AS BIGINT) AS n_rows",
    f"round({_OLS3_DET0}/{_OLS3_DET}, 6) AS b0_cents",
    f"round({_OLS3_DET1}/{_OLS3_DET}, 6) AS b1_cents_per_qty",
    f"round({_OLS3_DET2}/{_OLS3_DET}, 6) AS b2_cents_per_discpt",
    f"round({_OLS3_R2}, 6) AS r2",
]
_OLS3_OUT = ", ".join(_OLS3_EXPRS)


@_register(
    "q299_ols_normal_equations",
    f"""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE)            AS n,
             CAST(sum(x1) AS DOUBLE)             AS s1,
             CAST(sum(x2) AS DOUBLE)             AS s2,
             CAST(sum(y) AS DOUBLE)              AS sy,
             CAST(sum(x1 * x1) AS DOUBLE)        AS s11,
             CAST(sum(x1 * x2) AS DOUBLE)        AS s12,
             CAST(sum(x2 * x2) AS DOUBLE)        AS s22,
             CAST(sum(x1 * y) AS DOUBLE)         AS s1y,
             CAST(sum(x2 * y) AS DOUBLE)         AS s2y,
             CAST(sum(y * y) AS DOUBLE)          AS syy
      FROM (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(round(l_discount * 100) AS BIGINT) AS x2,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
      )
    )
    SELECT {_OLS3_OUT} FROM m
    """,
)
def q299_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed closed-form OLS: fit extendedprice_cents ~ b0 + b1 *
    quantity + b2 * discount_pct over the whole fact table via the
    normal equations — ONE map-side-combinable aggregate computes the
    ten second-order moments (all exact integers: BIGINT products
    summed in DECIMAL(38,0) / HUGEINT), then a 3x3 Cramer solve runs as
    a scalar expression over the one-row moment frame.  This is how you
    train a linear model on 100 TB without MLlib: the data pass is a
    pure aggregation (no iterations, no driver collect), and the solve
    is O(p^3) on p=3.  Both engines evaluate the SAME shared expression
    template over the same exact moments, so every double is
    bit-identical by construction.  Scale shape: one full scan, one
    1-row shuffle, zero joins."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x1").cast(dec)).cast("double").alias("s1"),
        F.sum(F.col("x2").cast(dec)).cast("double").alias("s2"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x1") * F.col("x1")).cast(dec)).cast("double").alias("s11"),
        F.sum((F.col("x1") * F.col("x2")).cast(dec)).cast("double").alias("s12"),
        F.sum((F.col("x2") * F.col("x2")).cast(dec)).cast("double").alias("s22"),
        F.sum((F.col("x1") * F.col("y")).cast(dec)).cast("double").alias("s1y"),
        F.sum((F.col("x2") * F.col("y")).cast(dec)).cast("double").alias("s2y"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
    )
    return m.selectExpr(*_OLS3_EXPRS)


_OLS1_SLOPE = "(CAST(nn*sxy - sx*sy AS DOUBLE) / CAST(nn*sxx - sx*sx AS DOUBLE))"
_OLS1_EXPRS = [
    "CAST(fold AS BIGINT) AS fold",
    "CAST(nn AS BIGINT) AS n_rows",
    f"round({_OLS1_SLOPE}, 6) AS slope_cents_per_qty",
    f"round((CAST(sy AS DOUBLE) - {_OLS1_SLOPE} * CAST(sx AS DOUBLE))"
    " / CAST(nn AS DOUBLE), 6) AS intercept_cents",
    "round((CAST(nn*sxy - sx*sy AS DOUBLE)"
    " / sqrt(CAST(nn*sxx - sx*sx AS DOUBLE)"
    " * CAST(nn*syy - sy*sy AS DOUBLE)))"
    " * (CAST(nn*sxy - sx*sy AS DOUBLE)"
    " / sqrt(CAST(nn*sxx - sx*sx AS DOUBLE)"
    " * CAST(nn*syy - sy*sy AS DOUBLE))), 6) AS r2",
]
_OLS1_OUT = ", ".join(_OLS1_EXPRS)


@_register(
    "q300_fold_coefficient_stability",
    f"""
    WITH m AS (
      SELECT l_orderkey % 5 AS fold,
             count(*)       AS nn,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS sxx,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy
      FROM lineitem GROUP BY l_orderkey % 5
    )
    SELECT {_OLS1_OUT} FROM m ORDER BY fold
    """,
)
def q300_fold_coefficient_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation coefficient stability: split the fact table into
    5 deterministic folds (orderkey mod 5 — arithmetic, not engine
    hashing, so both engines agree), fit the simple regression
    extendedprice_cents ~ quantity per fold from exact integer moments,
    and report slope / intercept / r-squared per fold.  A stable model
    shows near-identical coefficients across folds; a fold-sensitive
    one flags leakage or skew.  Same closed-form-on-aggregates
    discipline as q299 (the moments are the entire data pass; one
    map-combinable shuffle on the 5-value fold key), with the shared
    expression template again making every derived double bit-identical
    cross-engine.  Scale shape: one scan, one 5-group shuffle, no
    joins, no iterations."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("fold"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    m = li.groupBy("fold").agg(
        F.count(F.lit(1)).cast(dec).alias("nn"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    return m.selectExpr(*_OLS1_EXPRS).orderBy("fold")


def _kcore_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled k-core peeling oracle: DuckDB has no iterative dataflow,
    so each peel round is one chained CTE triple (degrees -> survivors
    -> surviving edges) — the SQL twin of the Spark loop, same round
    count, same survivor rule, so the frames match round by round."""
    parts = [
        "WITH op AS MATERIALIZED "
        "(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pp AS MATERIALIZED (
      SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )""",
        "e0 AS MATERIALIZED "
        "(SELECT pa, pb FROM pp GROUP BY pa, pb HAVING count(*) >= 2)",
    ]
    sel = []
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""d{r} AS MATERIALIZED (
      SELECT node, count(*) AS c FROM (
        SELECT pa AS node FROM e{p} UNION ALL SELECT pb FROM e{p}
      ) GROUP BY node
    )"""
        )
        parts.append(f"k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE c >= {k})")
        parts.append(
            f"""e{r} AS MATERIALIZED (
      SELECT pa, pb FROM e{p}
      WHERE pa IN (SELECT node FROM k{r})
        AND pb IN (SELECT node FROM k{r})
    )"""
        )
        sel.append(
            f"SELECT {r} AS round, "
            f"CAST((SELECT count(*) FROM (SELECT pa FROM e{r} "
            f"UNION SELECT pb FROM e{r})) AS BIGINT) AS n_nodes, "
            f"CAST((SELECT count(*) FROM e{r}) AS BIGINT) AS n_edges"
        )
    return (
        ",\n".join(parts)
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(sel)
        + "\n) ORDER BY round"
    )


@_register("q301_kcore_decomposition", _kcore_oracle())
def q301_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the part-part co-purchase graph:
    iteratively peel nodes with degree < k until the dense core remains
    — the fourth distributed graph kernel (after CC q70, PageRank q106,
    triangles q134), and the standard way to find the stable "always
    bought together" nucleus that survives when one-off affinities are
    stripped.  Emits the (n_nodes, n_edges) decay curve per peel round;
    a flat tail means the core converged.  Both engines run EXACTLY 8
    peel rounds (fixpoint or not), so the frames match by construction;
    the oracle unrolls the loop into chained CTEs.  Scale shape: edges
    come from the shared co-purchase artifact (one heavy per-order pair
    join per corpus version, amortized across q134/q137/q141/q254);
    each round is a tiny-frame degree aggregate + two broadcast-able
    semi joins, localCheckpoint-ed per round (the q70 CC discipline) so
    round r+1 never recomputes round r's lineage."""
    from stock_ops_spark.operators.graph import copurchase_edges_cached

    e = (
        copurchase_edges_cached(
            _t(spark, sf_dir, "lineitem"),
            source_path=catalog.table_path(sf_dir, "lineitem"),
            support=2,
        )
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    frames = []
    cur = e
    for r in range(1, 9):
        deg = (
            cur.select(F.col("pa").alias("node"))
            .union(cur.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        keep = deg.where(F.col("c") >= 3).select("node")
        nxt = (
            cur.join(
                F.broadcast(keep.withColumnRenamed("node", "pa")),
                "pa",
                "left_semi",
            )
            .join(
                F.broadcast(keep.withColumnRenamed("node", "pb")),
                "pb",
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
        nodes = nxt.select(F.col("pa").alias("n")).union(
            nxt.select(F.col("pb").alias("n"))
        )
        frames.append(
            nodes.agg(F.countDistinct("n").cast("bigint").alias("n_nodes"))
            .crossJoin(
                nxt.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            )
            .select(
                F.lit(r).cast("bigint").alias("round"), "n_nodes", "n_edges"
            )
        )
        cur = nxt
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("round")


@_register(
    "q302_weighted_doc_sample",
    """
    WITH d AS (
      SELECT doc_id, source, n_chars,
             ((doc_id % 100003) * 1103515245 + 12345) % 2147483647 AS h
      FROM documents
    ), k AS (
      SELECT doc_id, source, n_chars,
             -ln((h + 1) / 2147483648.0) / n_chars AS clock
      FROM d
    ), top AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (ORDER BY clock, doc_id) AS rank
      FROM k
    )
    SELECT CAST(rank AS BIGINT)    AS rank,
           CAST(doc_id AS BIGINT)  AS doc_id,
           source,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM top WHERE rank <= 50 ORDER BY rank
    """,
)
def q302_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, size-proportional: draw 50
    documents with inclusion odds proportional to n_chars via the
    Efraimidis-Spirakis exponential-clock trick (clock = -ln(u)/w;
    smallest k clocks win) — the standard one-pass distributed scheme
    (a sequential reservoir cannot parallelize; this is an embarrassingly
    parallel top-k).  The uniform u is the q266 deterministic LCG hash,
    so the 'random' sample is reproducible and oracle-checkable.  Scale
    shape: per-row arithmetic + a global top-50 executed as
    TakeOrderedAndProject (per-partition top-50, then a 50*P-row driver
    merge) — no global sort, no full shuffle; the rank window runs
    AFTER the limit, over the 50-row bounded frame (the tiny-frame
    discipline the registry audit enforces).  The doc_id tiebreak makes
    the rank total even if two clocks collide."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        (
            ((F.col("doc_id") % 100003) * 1103515245 + 12345) % 2147483647
        ).alias("h"),
    )
    k = d.select(
        "doc_id",
        "source",
        "n_chars",
        (
            -F.log((F.col("h") + 1) / F.lit(2147483648.0))
            / F.col("n_chars")
        ).alias("clock"),
    )
    top50 = k.orderBy("clock", "doc_id").limit(50)
    return (
        top50.select(
            F.row_number()
            .over(Window.orderBy("clock", "doc_id"))
            .cast("bigint")
            .alias("rank"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .orderBy("rank")
    )


@_register(
    "q303_rrf_hybrid_retrieval",
    """
    WITH qe AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
    dq AS (
      SELECT i, CAST(round(CAST(qe.embedding[i] AS DOUBLE) * 10000)
                 AS BIGINT) AS qv
      FROM qe, unnest(range(1, 65)) AS t(i)
    ),
    ce AS (
      SELECT e.vec_id, i,
             CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000)
                  AS BIGINT) AS cv
      FROM embeddings e, unnest(range(1, 65)) AS t(i)
      WHERE e.vec_id <> 7
    ),
    dd AS (
      SELECT ce.vec_id, sum(ce.cv * dq.qv) AS dot,
             sum(ce.cv * ce.cv) AS nrm
      FROM ce JOIN dq USING (i) GROUP BY ce.vec_id
    ),
    dtop AS (
      SELECT vec_id, CAST(dot AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE)) AS ds
      FROM dd ORDER BY ds DESC, vec_id LIMIT 50
    ),
    drank AS (
      SELECT vec_id AS id,
             row_number() OVER (ORDER BY ds DESC, vec_id) AS dr
      FROM dtop
    ),
    toks AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS t(term)
    ),
    qt AS (SELECT term FROM toks WHERE doc_id = 7),
    nq AS (SELECT count(*) AS nq FROM qt),
    da AS (SELECT doc_id, count(*) AS da FROM toks GROUP BY doc_id),
    inter AS (
      SELECT toks.doc_id, count(*) AS inter
      FROM toks JOIN qt USING (term)
      WHERE toks.doc_id <> 7 GROUP BY toks.doc_id
    ),
    lsc AS (
      SELECT inter.doc_id,
             CAST(inter.inter * 1000000
                  // (da.da + nq.nq - inter.inter) AS BIGINT) AS js
      FROM inter JOIN da USING (doc_id) CROSS JOIN nq
    ),
    ltop AS (
      SELECT doc_id, js FROM lsc ORDER BY js DESC, doc_id LIMIT 50
    ),
    lrank AS (
      SELECT doc_id AS id,
             row_number() OVER (ORDER BY js DESC, doc_id) AS lr
      FROM ltop
    ),
    fused AS (
      SELECT coalesce(drank.id, lrank.id) AS id, drank.dr, lrank.lr,
             coalesce(1.0 / (60.0 + drank.dr), 0.0)
               + coalesce(1.0 / (60.0 + lrank.lr), 0.0) AS rrf
      FROM drank FULL OUTER JOIN lrank ON drank.id = lrank.id
    ),
    top AS (
      SELECT id, dr, lr, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS BIGINT) AS rank,
           CAST(id AS BIGINT)  AS doc_id,
           CAST(dr AS BIGINT)  AS dense_rank,
           CAST(lr AS BIGINT)  AS lex_rank,
           round(rrf, 8)       AS rrf_score
    FROM top ORDER BY rank
    """,
)
def q303_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal-Rank Fusion: a dense ranking
    (quantized-integer cosine vs query vector 7, the q259 exactness
    discipline) and a lexical ranking (exact distinct-term Jaccard vs
    document 7 — 'more-like-this') are each cut to top-50, then fused
    by RRF (k=60): score = 1/(60+r_dense) + 1/(60+r_lex), the standard
    production recipe for combining BM25-family and embedding search
    (Cormack et al.; used by every major search stack because it needs
    no score calibration, only ranks).  Both engines fuse the SAME
    exact-integer rankings, and the RRF float is a fixed two-term sum —
    bit-identical by construction.  Scale shape: each leg is a
    TakeOrderedAndProject top-50 over one aggregate (candidate lists
    never exceed 50x2 rows); the rank windows and the full-outer fuse
    run on bounded frames; the query vector, query-term set and scalar
    counters broadcast."""
    e = _t(spark, sf_dir, "embeddings")
    quant = "transform(embedding, v -> cast(round(v * 10000) as bigint))"
    qe = e.where(F.col("vec_id") == 7).select(F.expr(quant).alias("qa"))
    cand = e.where(F.col("vec_id") != 7).select(
        "vec_id", F.expr(quant).alias("ca")
    )
    dd = cand.join(F.broadcast(qe)).select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(ca, qa, (x, y) -> x * y), 0L, (a, x) -> a + x)"
        ).alias("dot"),
        F.expr(
            "aggregate(zip_with(ca, ca, (x, y) -> x * y), 0L, (a, x) -> a + x)"
        ).alias("nrm"),
    )
    dtop = (
        dd.select(
            "vec_id",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("nrm").cast("double"))
            ).alias("ds"),
        )
        .orderBy(F.col("ds").desc(), "vec_id")
        .limit(50)
    )
    drank = dtop.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("ds").desc(), "vec_id"))
        .alias("dr"),
    )
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != "",
                )
            ).alias("term"),
        )
        .distinct()
    )
    qt = toks.where(F.col("doc_id") == 7).select("term")
    nq = qt.agg(F.count(F.lit(1)).alias("nq"))
    da = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("da"))
    inter = (
        toks.where(F.col("doc_id") != 7)
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    lsc = (
        inter.join(da, "doc_id")
        .crossJoin(F.broadcast(nq))
        .select(
            "doc_id",
            F.expr(
                "CAST(inter * 1000000 DIV (da + nq - inter) AS BIGINT)"
            ).alias("js"),
        )
    )
    ltop = lsc.orderBy(F.col("js").desc(), "doc_id").limit(50)
    lrank = ltop.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("js").desc(), "doc_id"))
        .alias("lr"),
    )
    fused = (
        drank.withColumnRenamed("id", "did")
        .join(
            lrank.withColumnRenamed("id", "lid"),
            F.col("did") == F.col("lid"),
            "full_outer",
        )
        .select(
            F.coalesce("did", "lid").alias("id"),
            "dr",
            "lr",
            (
                F.coalesce(1.0 / (60.0 + F.col("dr")), F.lit(0.0))
                + F.coalesce(1.0 / (60.0 + F.col("lr")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.col("rrf").desc(), "id").limit(10)
    return (
        top.select(
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), "id"))
            .cast("bigint")
            .alias("rank"),
            F.col("id").cast("bigint").alias("doc_id"),
            F.col("dr").cast("bigint").alias("dense_rank"),
            F.col("lr").cast("bigint").alias("lex_rank"),
            F.round("rrf", 8).alias("rrf_score"),
        )
        .orderBy("rank")
    )


@_register(
    "q304_psi_distribution_drift",
    """
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             (o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') AS cur
      FROM orders
    ),
    thr AS (
      SELECT quantile_cont(cents, 0.1) AS t1, quantile_cont(cents, 0.2) AS t2,
             quantile_cont(cents, 0.3) AS t3, quantile_cont(cents, 0.4) AS t4,
             quantile_cont(cents, 0.5) AS t5, quantile_cont(cents, 0.6) AS t6,
             quantile_cont(cents, 0.7) AS t7, quantile_cont(cents, 0.8) AS t8,
             quantile_cont(cents, 0.9) AS t9
      FROM o WHERE NOT cur
    ),
    b AS (
      SELECT cur,
             1 + (cents > t1)::INT + (cents > t2)::INT + (cents > t3)::INT
               + (cents > t4)::INT + (cents > t5)::INT + (cents > t6)::INT
               + (cents > t7)::INT + (cents > t8)::INT + (cents > t9)::INT
                 AS bucket
      FROM o CROSS JOIN thr
    ),
    agg AS (
      SELECT bucket,
             sum(CASE WHEN cur THEN 0 ELSE 1 END) AS n_ref,
             sum(CASE WHEN cur THEN 1 ELSE 0 END) AS n_cur
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM agg)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_ref AS BIGINT)  AS n_ref,
           CAST(n_cur AS BIGINT)  AS n_cur,
           round(n_ref::DOUBLE / tot.tr, 6) AS ref_share,
           round(n_cur::DOUBLE / tot.tc, 6) AS cur_share,
           round((n_cur::DOUBLE / tot.tc - n_ref::DOUBLE / tot.tr)
                 * ln(nullif(n_cur::DOUBLE / tot.tc, 0.0)
                      / nullif(n_ref::DOUBLE / tot.tr, 0.0)), 8)
               AS psi_term
    FROM agg CROSS JOIN tot ORDER BY bucket
    """,
)
def q304_psi_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the pre-1998 (reference) and
    post-1998 (current) order-value distributions — the industry
    standard drift monitor for a deployed model's input features
    (PSI < 0.1 stable, > 0.25 retrain).  Decile edges come from the
    REFERENCE distribution only (exact interpolated percentiles, the
    q136/q166 discipline) and are BROADCAST back — no ntile global
    sort; both populations bucket in the same single pass over orders
    (a conditional-count aggregate splits ref/cur without a second
    scan).  Each PSI term is (q-p)·ln(q/p) over exact integer-ratio
    shares; an empty bucket yields NULL rather than an infinite term.
    Scale shape: one scan, one 10-group shuffle, two scalar frames
    broadcast."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .alias("cur"),
    )
    # PERF (r8): ONE percentile(col, array(...)) aggregate — nine
    # separate percentile() calls each buffer the full reference
    # population independently (9× the aggregation-buffer traffic for
    # identical interpolated values).  Measured at sf1: 70.5 s → 5.5 s
    # cold (the nine-buffer form GC-thrashed); 12.7 s in BENCH_SF1.
    qs = ", ".join(str(i / 10) for i in range(1, 10))
    thr = (
        o.where(~F.col("cur"))
        .agg(F.expr(f"percentile(cents, array({qs}))").alias("ts"))
        .select(*[F.col("ts")[i - 1].alias(f"t{i}") for i in range(1, 10)])
    )
    bucket = F.lit(1)
    for i in range(1, 10):
        bucket = bucket + (F.col("cents") > F.col(f"t{i}")).cast("int")
    agg = (
        o.crossJoin(F.broadcast(thr))
        .select("cur", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("cur"), 0).otherwise(1)).alias("n_ref"),
            F.sum(F.when(F.col("cur"), 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = agg.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    rs = F.col("n_ref").cast("double") / F.col("tr")
    cs = F.col("n_cur").cast("double") / F.col("tc")
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.round(rs, 6).alias("ref_share"),
            F.round(cs, 6).alias("cur_share"),
            F.round(
                (cs - rs)
                * F.log(
                    F.expr("nullif(cast(n_cur as double) / tc, 0.0)")
                    / F.expr("nullif(cast(n_ref as double) / tr, 0.0)")
                ),
                8,
            ).alias("psi_term"),
        )
        .orderBy("bucket")
    )


# Band-level residual diagnostics (q305): everything derives from the
# SAME per-band integer moments — residual sums expand algebraically,
# so no second data pass and no float row-level sums.  Shared templates
# again make each double bit-identical cross-engine.
_OLS3_B = [
    f"({_OLS3_DET0})/({_OLS3_DET}) AS b0",
    f"({_OLS3_DET1})/({_OLS3_DET}) AS b1",
    f"({_OLS3_DET2})/({_OLS3_DET}) AS b2",
]
_DIAG_MEAN = (
    "(CAST(zy AS DOUBLE) - b0*CAST(nn AS DOUBLE) - b1*CAST(z1 AS DOUBLE)"
    " - b2*CAST(z2 AS DOUBLE)) / CAST(nn AS DOUBLE)"
)
_DIAG_SS = (
    "(CAST(zyy AS DOUBLE) - 2*b0*CAST(zy AS DOUBLE)"
    " - 2*b1*CAST(z1y AS DOUBLE) - 2*b2*CAST(z2y AS DOUBLE)"
    " + b0*b0*CAST(nn AS DOUBLE) + b1*b1*CAST(z11 AS DOUBLE)"
    " + b2*b2*CAST(z22 AS DOUBLE) + 2*b0*b1*CAST(z1 AS DOUBLE)"
    " + 2*b0*b2*CAST(z2 AS DOUBLE) + 2*b1*b2*CAST(z12 AS DOUBLE))"
)
_DIAG_EXPRS = [
    "CAST(band AS BIGINT) AS band",
    "CAST(nn AS BIGINT) AS n_rows",
    f"round({_DIAG_MEAN}, 6) AS mean_residual_cents",
    f"round(sqrt({_DIAG_SS} / CAST(nn AS DOUBLE)), 6) AS rms_residual_cents",
]


@_register(
    "q305_ols_residual_diagnostics",
    f"""
    WITH r AS (
      SELECT 1 + (CAST(l_quantity AS BIGINT) - 1) // 10 AS band,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    mb AS (
      SELECT band, count(*) AS nn,
             sum(x1) AS z1, sum(x2) AS z2, sum(y) AS zy,
             sum(x1 * x1) AS z11, sum(x1 * x2) AS z12,
             sum(x2 * x2) AS z22, sum(x1 * y) AS z1y,
             sum(x2 * y) AS z2y, sum(y * y) AS zyy
      FROM r GROUP BY band
    ),
    g AS (
      SELECT CAST(sum(nn) AS DOUBLE) AS n,
             CAST(sum(z1) AS DOUBLE) AS s1, CAST(sum(z2) AS DOUBLE) AS s2,
             CAST(sum(zy) AS DOUBLE) AS sy, CAST(sum(z11) AS DOUBLE) AS s11,
             CAST(sum(z12) AS DOUBLE) AS s12, CAST(sum(z22) AS DOUBLE) AS s22,
             CAST(sum(z1y) AS DOUBLE) AS s1y, CAST(sum(z2y) AS DOUBLE) AS s2y
      FROM mb
    ),
    b AS (SELECT {", ".join(_OLS3_B)} FROM g)
    SELECT {", ".join(_DIAG_EXPRS)}
    FROM mb CROSS JOIN b ORDER BY band
    """,
)
def q305_ols_residual_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual diagnostics for the q299 closed-form model WITHOUT a
    second data pass: per quantity band (1-10, ..., 41-50), the mean
    and RMS residual derive ALGEBRAICALLY from the same band-level
    integer moments that train the model — sum(resid) and sum(resid²)
    expand into moment combinations, so the single banded aggregate
    serves training (global moments = sum of band moments), validation
    and the per-band bias report (a biased band means the linear form
    is wrong there, the standard heteroscedasticity check).  This is
    the aggregates-only ML-diagnostics pattern that works at 100 TB:
    one scan, one 5-group shuffle, every float derived from exact
    integers through shared cross-engine expression templates.  Scale
    shape: identical to q300 plus a broadcast of the 1-row coefficient
    frame."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    ).selectExpr("1 + (x1 - 1) DIV 10 AS band", "x1", "x2", "y")
    dec = "decimal(38,0)"
    mb = li.groupBy("band").agg(
        F.count(F.lit(1)).cast(dec).alias("nn"),
        F.sum(F.col("x1").cast(dec)).alias("z1"),
        F.sum(F.col("x2").cast(dec)).alias("z2"),
        F.sum(F.col("y").cast(dec)).alias("zy"),
        F.sum((F.col("x1") * F.col("x1")).cast(dec)).alias("z11"),
        F.sum((F.col("x1") * F.col("x2")).cast(dec)).alias("z12"),
        F.sum((F.col("x2") * F.col("x2")).cast(dec)).alias("z22"),
        F.sum((F.col("x1") * F.col("y")).cast(dec)).alias("z1y"),
        F.sum((F.col("x2") * F.col("y")).cast(dec)).alias("z2y"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("zyy"),
    )
    g = mb.agg(
        F.sum("nn").cast("double").alias("n"),
        F.sum("z1").cast("double").alias("s1"),
        F.sum("z2").cast("double").alias("s2"),
        F.sum("zy").cast("double").alias("sy"),
        F.sum("z11").cast("double").alias("s11"),
        F.sum("z12").cast("double").alias("s12"),
        F.sum("z22").cast("double").alias("s22"),
        F.sum("z1y").cast("double").alias("s1y"),
        F.sum("z2y").cast("double").alias("s2y"),
    )
    b = g.selectExpr(*_OLS3_B)
    return (
        mb.crossJoin(F.broadcast(b)).selectExpr(*_DIAG_EXPRS).orderBy("band")
    )


@_register(
    "q306_commitlog_cdc_audit",
    """
    WITH e AS (
      SELECT event_type AS k1,
             CAST(epoch_ms(ts) - epoch_ms(ts) % 60000 AS BIGINT) AS k2,
             event_id, (event_id % 50 < 25) AS even
      FROM events WHERE event_id % 25 < 2
    ),
    ev AS (SELECT k1, k2, count(*) AS c FROM e WHERE even GROUP BY k1, k2),
    od AS (SELECT k1, k2, count(*) AS c FROM e WHERE NOT even GROUP BY k1, k2),
    c1 AS (
      SELECT CAST(count(*) AS BIGINT) AS ins,
             CAST(coalesce(sum(c), 0) - count(*) AS BIGINT) AS post
      FROM ev
    ),
    c2 AS (
      SELECT CAST(count(*) FILTER (WHERE ev.k1 IS NULL) AS BIGINT) AS ins,
             CAST(coalesce(sum(od.c), 0)
                  - count(*) FILTER (WHERE ev.k1 IS NULL) AS BIGINT) AS post
      FROM od LEFT JOIN ev USING (k1, k2)
    )
    SELECT * FROM (
      SELECT 1 AS commit_version, 'insert' AS change_type, ins AS n_rows
      FROM c1 WHERE ins > 0
      UNION ALL
      SELECT 1, 'update_postimage', post FROM c1 WHERE post > 0
      UNION ALL
      SELECT 2, 'insert', ins FROM c2 WHERE ins > 0
      UNION ALL
      SELECT 2, 'update_postimage', post FROM c2 WHERE post > 0
    ) ORDER BY commit_version, change_type
    """,
)
def q306_commitlog_cdc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end commit-log CDC audit, driver-oracled: the events table
    is ingested into a THROWAWAY ManifestStore in two commits (even
    event_ids, then odd), and the change feed's per-commit
    insert/update_postimage counts must equal what the versioning
    semantics predict from the raw table alone — first-seen (ticker,
    minute) keys are inserts, repeat keys are conflict-versioned
    update_postimages (the timestamp key is truncated to the minute so
    collisions actually occur; event_id rides the payload so no row is
    an exact duplicate).  This puts the ManifestStore/CDC machinery — elsewhere
    engine-level tests only — behind the same hash gate as every query:
    the oracle recomputes the expected feed from SQL set algebra.
    Scale shape: two bounded ingests (each one dedup/version pass + one
    atomic commit) and a feed read; the audit aggregate is 4 rows."""
    import shutil
    import tempfile

    from stock_ops_spark.sources.commitlog import ManifestStore

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_id") % 25 < 2  # bounded deterministic slice: the
        # audit's value is the semantics check, not ingest volume (the
        # ingest path's throughput has its own bench) — ~8% of events
        # keeps the two commits sub-second at every SF
    ).select(
        F.col("event_type").alias("ticker"),
        (F.unix_millis("ts") - F.unix_millis("ts") % 60000).alias(
            "timestamp_UTC_ms"
        ),
        F.col("value").cast("double").alias("price"),
        F.col("event_id").cast("bigint").alias("volume"),
        F.lit(None).cast("double").alias("ask_price"),
        F.lit(None).cast("double").alias("bid_price"),
        F.lit(None).cast("bigint").alias("ask_size"),
        F.lit(None).cast("bigint").alias("bid_size"),
        (F.col("event_id") % 50 < 25).alias("__even"),
    )
    root = tempfile.mkdtemp(prefix="cdc_audit_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")  # bounded slice:
    # ~20 tiny jobs dominate, and each pays per-task overhead x partitions
    try:
        store = ManifestStore(spark, root)
        store.ingest_batch(ev.where(F.col("__even")).drop("__even"), "streaming")
        store.ingest_batch(ev.where(~F.col("__even")).drop("__even"), "streaming")
        feed = store.read_changes("streaming")
        out = (
            feed.groupBy("_commit_version", "_change_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
            .select(
                F.col("_commit_version").cast("bigint").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
                "n_rows",
            )
            .orderBy("commit_version", "change_type")
        )
        # the store dir is deleted on return; materialize first
        rows = out.collect()
        return _local_df(
            spark,
            rows, "commit_version bigint, change_type string, n_rows bigint"
        ).orderBy("commit_version", "change_type")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q307_cumulative_distinct_customers",
    """
    WITH fm AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS first_m
      FROM orders GROUP BY o_custkey
    ),
    om AS (
      SELECT date_trunc('month', o.o_orderdate) AS m,
             count(*) AS n_orders,
             sum(CASE WHEN date_trunc('month', o.o_orderdate) = fm.first_m
                      THEN 0 ELSE 1 END) AS n_returning
      FROM orders o JOIN fm ON o.o_custkey = fm.o_custkey
      GROUP BY 1
    ),
    nm AS (
      SELECT first_m AS m, count(*) AS n_new FROM fm GROUP BY first_m
    )
    SELECT strftime(om.m, '%Y-%m-%d')            AS month,
           CAST(coalesce(nm.n_new, 0) AS BIGINT) AS new_customers,
           CAST(sum(coalesce(nm.n_new, 0))
                OVER (ORDER BY om.m) AS BIGINT)   AS cum_customers,
           CAST(om.n_orders AS BIGINT)           AS n_orders,
           round(om.n_returning::DOUBLE / om.n_orders, 6)
                                                 AS returning_order_share
    FROM om LEFT JOIN nm ON nm.m = om.m
    ORDER BY om.m
    """,
)
def q307_cumulative_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct customers per month plus the new-vs-returning
    order split — the growth-accounting query every analytics team runs,
    and the canonical example of the FIRST-SEEN REDUCTION: a naive
    running COUNT(DISTINCT) re-scans an ever-growing window per month
    (quadratic at 100 TB); reducing each customer to min(first month)
    makes it ONE key aggregate, after which the monthly frame is tiny
    (~dozens of rows) and the cumulative window is free.  Returning
    share joins orders to the per-customer first month on the natural
    custkey distribution (one shuffle shared with the min aggregate).
    All counts exact integers; the share is a ratio of exact integers."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    )
    fm = o.groupBy("o_custkey").agg(F.min("m").alias("first_m"))
    om = (
        o.join(fm, "o_custkey")
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("m") == F.col("first_m"), 0).otherwise(1)
            ).alias("n_returning"),
        )
    )
    nm = fm.groupBy(F.col("first_m").alias("m")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return (
        om.join(nm, "m", "left")
        .select(
            F.col("m"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            "n_orders",
            "n_returning",
        )
        .select(
            F.date_format("m", "yyyy-MM-dd").alias("month"),
            F.col("n_new").cast("bigint").alias("new_customers"),
            F.sum("n_new").over(w).cast("bigint").alias("cum_customers"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round(
                F.col("n_returning").cast("double") / F.col("n_orders"), 6
            ).alias("returning_order_share"),
        )
        .orderBy("month")
    )


_ELA_EXPRS = [
    "brand",
    "CAST(nn AS BIGINT) AS n_rows",
    f"round({_OLS1_SLOPE}, 6) AS qty_per_discount_pt",
    f"round((CAST(sy AS DOUBLE) - {_OLS1_SLOPE} * CAST(sx AS DOUBLE))"
    " / CAST(nn AS DOUBLE), 6) AS base_qty",
    "round((CAST(nn*sxy - sx*sy AS DOUBLE)"
    " / sqrt(CAST(nn*sxx - sx*sx AS DOUBLE)"
    " * CAST(nn*syy - sy*sy AS DOUBLE)))"
    " * (CAST(nn*sxy - sx*sy AS DOUBLE)"
    " / sqrt(CAST(nn*sxx - sx*sx AS DOUBLE)"
    " * CAST(nn*syy - sy*sy AS DOUBLE))), 6) AS r2",
]


@_register(
    "q308_discount_elasticity",
    f"""
    WITH m AS (
      SELECT p.p_brand AS brand,
             count(*) AS nn,
             sum(CAST(round(l.l_discount * 100) AS BIGINT)) AS sx,
             sum(CAST(l.l_quantity AS BIGINT)) AS sy,
             sum(CAST(round(l.l_discount * 100) AS BIGINT)
                 * CAST(round(l.l_discount * 100) AS BIGINT)) AS sxx,
             sum(CAST(round(l.l_discount * 100) AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT)) AS sxy,
             sum(CAST(l.l_quantity AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT)) AS syy
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT {", ".join(_ELA_EXPRS)} FROM m ORDER BY brand
    """,
)
def q308_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount response: the regression slope of line
    quantity on discount percentage (plus base quantity and fit r²) —
    the pricing team's first elasticity read, fit for EVERY brand in
    one pass with the closed-form-on-aggregates discipline (q299/q300):
    exact integer moments keyed by brand, shared cross-engine template
    for the derived doubles.  A positive slope says deeper discounts
    move volume for that brand; r² near zero says discounting is noise
    there.  Scale shape: one broadcast dim join (brand is a part
    attribute), one map-combinable 25-key aggregate, no second pass,
    no windows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = "decimal(38,0)"
    m = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast(dec).alias("nn"),
            F.sum(F.col("x").cast(dec)).alias("sx"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
            F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
            F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        )
    )
    return m.selectExpr(*_ELA_EXPRS).orderBy("brand")


_SHAPE_M2 = "(s2/n - (s1/n)*(s1/n))"
_SHAPE_M3 = "(s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n))"
_SHAPE_M4 = (
    "(s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n)"
    " - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n))"
)
_SHAPE_EXPRS = [
    "CAST(n AS BIGINT) AS n_rows",
    "round(s1/n / 100.0, 4) AS mean_value",
    f"round(sqrt({_SHAPE_M2}) / 100.0, 4) AS stddev_value",
    f"round({_SHAPE_M3} / (sqrt({_SHAPE_M2})*sqrt({_SHAPE_M2})"
    f"*sqrt({_SHAPE_M2})), 6) AS skewness",
    f"round({_SHAPE_M4} / ({_SHAPE_M2}*{_SHAPE_M2}) - 3.0, 6)"
    " AS excess_kurtosis",
]


@_register(
    "q309_distribution_shape",
    f"""
    WITH r AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(c) AS DOUBLE) AS s1,
             CAST(sum(c::HUGEINT * c) AS DOUBLE) AS s2,
             CAST(sum(c::HUGEINT * c * c) AS DOUBLE) AS s3,
             CAST(sum(c::HUGEINT * c * c * c) AS DOUBLE) AS s4
      FROM r
    )
    SELECT {", ".join(_SHAPE_EXPRS)} FROM m
    """,
)
def q309_distribution_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape audit of order values: mean, standard
    deviation, skewness and excess kurtosis derived from the first four
    EXACT raw power sums in one pass — the moment discipline (q299)
    extended to higher orders: cents^4 at 10^9 rows still fits 128-bit
    integer space (~10^33 of 10^38), so both engines aggregate exactly
    and the central-moment algebra runs over identical doubles through
    a shared template.  Heavy right skew + high kurtosis say the
    revenue distribution is whale-driven — the shape read that decides
    whether mean-based forecasts (q06) are even usable.  Scale shape:
    one scan, one 1-row shuffle, zero joins — the same plan at 100 TB."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c")
    )
    dec = "decimal(38,0)"
    m = o.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("c").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("c").cast(dec) * F.col("c"))).cast("double").alias("s2"),
        F.sum((F.col("c").cast(dec) * F.col("c") * F.col("c")))
        .cast("double")
        .alias("s3"),
        F.sum(
            (F.col("c").cast(dec) * F.col("c") * F.col("c") * F.col("c"))
        )
        .cast("double")
        .alias("s4"),
    )
    return m.selectExpr(*_SHAPE_EXPRS)


@_register(
    "q310_bm25_artifact_topk",
    """
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS t(term)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    s AS (SELECT (SELECT count(*) FROM documents) AS n,
                 (SELECT count(*) FROM toks)      AS t),
    q AS (SELECT * FROM (VALUES ('spark'), ('join'), ('vector'), ('merge'))
          AS v(term)),
    df AS (SELECT tf.term, count(*) AS df
           FROM tf JOIN q USING (term) GROUP BY tf.term),
    scored AS (
      SELECT tf.doc_id,
             CAST(
               (CAST(2 * s.n - 2 * df.df + 1 AS HUGEINT)
                  * CAST(22 * tf.tf AS HUGEINT)
                  * CAST(s.t AS HUGEINT) * 1000000)
               // (CAST(2 * df.df + 1 AS HUGEINT)
                     * (CAST(10 * s.t AS HUGEINT) * tf.tf
                        + CAST(3 * s.t AS HUGEINT)
                        + CAST(9 * dl.dl AS HUGEINT) * s.n))
               AS BIGINT) AS term_score
      FROM tf JOIN q USING (term) JOIN df ON df.term = tf.term
              JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN s
    ),
    docs AS (
      SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_hit_terms
      FROM scored GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, score, n_hit_terms,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM docs
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(doc_id AS BIGINT) AS doc_id,
           score, n_hit_terms
    FROM ranked WHERE rnk <= 10
    """,
)
def q310_bm25_artifact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q278 served from the INCREMENTAL lexical index artifact
    (operators/lexical.py): postings / per-doc length norms / folded
    document frequencies persist once per corpus version and refresh
    from (new + changed + removed) docs on rewrite — the same
    fit-once-read-many discipline as the minhash pair artifact, closing
    the last rebuild-from-scratch artifact family (VERDICT r6 #6).
    Same oracle as q278: artifact-served BM25 must be bit-identical to
    the from-scratch pipeline (exact integer rational scoring)."""
    from stock_ops_spark.operators.lexical import bm25_topk, lexical_stats_cached

    d = _t(spark, sf_dir, "documents")
    art = lexical_stats_cached(
        d, source_path=catalog.table_path(sf_dir, "documents")
    )
    return bm25_topk(
        spark, art["postings"], art["dl"], art["df"], list(_BM25_TERMS), k=10
    )


@_register(
    "q311_embedding_decontamination",
    """
    WITH qv AS (
      SELECT vec_id, label,
             list_transform(range(1, 65),
               i -> CAST(round(greatest(-1.0, least(1.0,
                    CAST(embedding[i] AS DOUBLE))) * 127) AS BIGINT)) AS q8
      FROM embeddings
    ), b AS (SELECT * FROM qv WHERE vec_id % 23 = 0),
       t AS (SELECT * FROM qv WHERE vec_id % 23 <> 0),
    pairs AS (
      SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
             list_sum(list_transform(range(1, 65),
               i -> t.q8[i] * b.q8[i])) AS dotq,
             list_sum(list_transform(range(1, 65),
               i -> t.q8[i] * t.q8[i])) AS n2t,
             list_sum(list_transform(range(1, 65),
               i -> b.q8[i] * b.q8[i])) AS n2b
      FROM t JOIN b USING (label)
    ), scored AS (
      SELECT train_id, bench_id, dotq,
             CAST((CAST(dotq AS HUGEINT) * dotq * 1000000000000)
                  // (CAST(n2t AS HUGEINT) * n2b) AS BIGINT) AS score
      FROM pairs WHERE dotq > 0
    ), ranked AS (
      SELECT train_id, bench_id, dotq, score,
             row_number() OVER (ORDER BY score DESC, train_id, bench_id)
               AS rnk
      FROM scored
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(train_id AS BIGINT) AS train_id,
           CAST(bench_id AS BIGINT) AS bench_id,
           CAST(dotq AS BIGINT) AS dotq, score
    FROM ranked WHERE rnk <= 15
    """,
)
def q311_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination audit: the top-15 most-similar
    (training, benchmark) vector pairs across the held-out split
    (vec_id % 23 — the q93/q260 convention), the leaderboard a
    training-data team reviews before declaring an eval set clean.
    Similarity is int8-quantized cosine (the q259/q77 storage format)
    ranked as an EXACT INTEGER: score = dotq²·10¹² ÷ (|a|²·|b|²) in
    128-bit space (HUGEINT / DECIMAL(38,0)), so the ranking is
    bit-identical across engines with no float boundary anywhere.
    Scale shape: the pair join is BLOCKED BY LABEL (the q81
    within-cluster discipline — at 100 TB the blocker is the IVF cell
    assignment, same plan shape); the benchmark side is the small
    fraction by construction and ships to the workers as a per-label
    numpy dict (the broadcast contract); top-15 is one TakeOrdered.

    PERF (r8): the per-pair dot is ONE numpy float64 matmul per
    (Arrow batch × label) inside ``mapInPandas`` (the q280 Gram
    pattern) instead of a zip_with+aggregate HOF per pair — the HOF
    allocates an intermediate 64-long array per pair and measured
    ~31 s ALONE at sf1's 4.2M pairs (per-stage timing; pre-join
    checkpointing of the quantized arrays changed nothing, so the
    fold itself is the cost).  float64 is exact here: int8-quantized
    products ≤ 127², 64-term sums ≤ 1.04e6 ≪ 2⁵³, so dotq is the
    identical integer.  Together with the int64 long-division score
    below: 29.8 → 2.6 s end-to-end at sf1 (11×)."""
    e = _t(spark, sf_dir, "embeddings")
    q8 = (
        "transform(embedding, x -> CAST(round(greatest(-1.0D, least(1.0D, "
        "CAST(x AS DOUBLE))) * 127) AS BIGINT))"
    )
    n2 = "aggregate(transform(q8, a -> a * a), 0L, (s, x) -> s + x)"
    qv = e.select("vec_id", "label", F.expr(q8).alias("q8")).withColumn(
        "n2", F.expr(n2)
    )
    import numpy as np

    # benchmark split: the held-out 1/23 fraction.  NB (r9, advice):
    # a fixed FRACTION grows linearly with the corpus, so the driver
    # collect below is small at every tested SF but not bounded in the
    # asymptotic sense — at the 100 TB posture the benchmark side would
    # be a curated fixed-size table instead.  The per-label dict ships
    # via sparkContext.broadcast (one copy per executor), not closure
    # capture (one per task), so only driver memory scales with it.
    bench: dict = {}
    for r in qv.where(F.col("vec_id") % 23 == 0).collect():
        bench.setdefault(r["label"], []).append(
            (r["vec_id"], r["q8"], r["n2"])
        )
    bench_np = {
        lab: (
            np.array([x[0] for x in v], dtype=np.int64),
            np.array([x[1] for x in v], dtype=np.float64),
            np.array([x[2] for x in v], dtype=np.int64),
        )
        for lab, v in bench.items()
    }
    bench_bc = spark.sparkContext.broadcast(bench_np)

    def dots(batches):
        import pandas as pd

        bench_v = bench_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            for lab, grp in pdf.groupby("label"):
                ent = bench_v.get(lab)
                if ent is None:
                    continue
                bids, bm, bn2 = ent
                m = np.stack(grp["q8"].to_numpy()).astype(np.float64)
                d = m @ bm.T  # exact: integer-valued float64 well under 2^53
                tids = grp["vec_id"].to_numpy()
                tn2 = grp["n2"].to_numpy()
                n_t, n_b = d.shape
                yield pd.DataFrame(
                    {
                        "train_id": np.repeat(tids, n_b),
                        "bench_id": np.tile(bids, n_t),
                        "dotq": d.ravel().astype(np.int64),
                        "n2t": np.repeat(tn2, n_b),
                        "n2b": np.tile(bn2, n_t),
                    }
                )

    pairs = (
        qv.where(F.col("vec_id") % 23 != 0)
        .select("vec_id", "label", "q8", "n2")
        .mapInPandas(
            dots,
            "train_id long, bench_id long, dotq long, n2t long, n2b long",
        )
    )
    # PERF (r8): the exact 128-bit score floor((dotq²·10¹²) div
    # (n2t·n2b)) computed in PURE int64 via base-10⁶ long division —
    # the DECIMAL(38,0) arithmetic was ~18 s of the query's 30 s at sf1
    # (measured per-stage).  Safe by Cauchy–Schwarz: dotq² ≤ n2t·n2b
    # (any integer vectors), so every intermediate fits int64:
    # dotq² ≤ (64·127²)² ≈ 1.07e12, remainders < D ≤ 1.07e12, and
    # r·10⁶ ≤ 1.07e18 < 2⁶³.  Long division gives the identical floor,
    # so the oracle (HUGEINT on the DuckDB side) hashes unchanged.
    # Measured: 29.8 → 9.8 s.
    scored = pairs.where(F.col("dotq") > 0).select(
        "train_id",
        "bench_id",
        "dotq",
        F.expr(
            "CAST((dotq * dotq) DIV (n2t * n2b) * 1000000000000"
            " + ((dotq * dotq) % (n2t * n2b)) * 1000000"
            "   DIV (n2t * n2b) * 1000000"
            " + (((dotq * dotq) % (n2t * n2b)) * 1000000) % (n2t * n2b)"
            "   * 1000000 DIV (n2t * n2b) AS BIGINT)"
        ).alias("score"),
    )
    w = Window.orderBy(
        F.col("score").desc(), F.col("train_id"), F.col("bench_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 15)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("train_id").cast("bigint").alias("train_id"),
            F.col("bench_id").cast("bigint").alias("bench_id"),
            F.col("dotq").cast("bigint").alias("dotq"),
            "score",
        )
    )


@_register(
    "q312_proximity_retrieval",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS w
      FROM documents
    ), toks AS (
      SELECT doc_id, u.term AS term, u.pos AS pos
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                 i -> {'term': w[i], 'pos': i})) AS u
        FROM w
      )
    ), pa AS (SELECT doc_id, pos FROM toks WHERE term = 'spark'),
       pb AS (SELECT doc_id, pos FROM toks WHERE term = 'merge'),
    prox AS (
      SELECT pa.doc_id,
             min(abs(pa.pos - pb.pos)) AS min_dist,
             count(DISTINCT pa.pos)    AS n_a,
             count(DISTINCT pb.pos)    AS n_b
      FROM pa JOIN pb USING (doc_id)
      GROUP BY pa.doc_id
    ), ranked AS (
      SELECT doc_id, min_dist, n_a, n_b,
             row_number() OVER (ORDER BY min_dist, doc_id) AS rnk
      FROM prox
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(min_dist AS BIGINT) AS min_dist,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM ranked WHERE rnk <= 20
    """,
)
def q312_proximity_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index proximity retrieval: rank documents by the
    minimum token distance between two query terms ('spark', 'merge') —
    the phrase/NEAR operator a lexical search engine layers on top of
    BM25 (q278), and the reason real indexes store POSITIONAL postings
    (doc, term, pos) rather than bare tf.  Exact integers throughout.
    Scale shape: the positional postings build is one posexplode (the
    same tokenize pass the lexical artifact runs); each query term
    selects its postings list; the per-doc distance join is bounded by
    per-doc term frequency (a handful of positions), grouped once —
    never a corpus-wide pair join.  Top-20 is a WindowGroupLimit."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
            )
        ).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    pa = toks.where(F.col("term") == "spark").select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    pb = toks.where(F.col("term") == "merge").select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    prox = (
        pa.join(pb, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pos_a") - F.col("pos_b"))).alias("min_dist"),
            F.count_distinct("pos_a").alias("n_a"),
            F.count_distinct("pos_b").alias("n_b"),
        )
    )
    w = Window.orderBy(F.col("min_dist"), F.col("doc_id"))
    return (
        prox.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("min_dist").cast("bigint").alias("min_dist"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
    )


@_register(
    "q313_retention_audit",
    """
    WITH e AS (
      SELECT event_type AS tk, CAST(epoch_ms(ts) AS BIGINT) AS ms
      FROM events WHERE event_id % 25 < 2
    ), bnd AS (
      SELECT min(ms) AS t0, max(ms) AS t1 FROM e
    ), cuts AS (
      SELECT t0 + (t1 - t0) // 3            AS ca,
             t0 + (2 * (t1 - t0)) // 3      AS cb,
             (t0 + (t1 - t0) // 3 + t0 + (2 * (t1 - t0)) // 3) // 2 AS r
      FROM bnd
    ), m AS (
      SELECT
        CAST(count(*) AS BIGINT)                                AS rows_before,
        CAST(count(*) FILTER (WHERE ms >= r) AS BIGINT)         AS rows_after,
        CAST(CASE WHEN count(*) FILTER (WHERE ms < ca) > 0
             THEN 1 ELSE 0 END AS BIGINT)                       AS deleted_dirs,
        CAST(CASE WHEN count(*) FILTER (WHERE ms >= ca AND ms < r) > 0
             THEN 1 ELSE 0 END AS BIGINT)                       AS rewritten_dirs,
        CAST(CASE WHEN count(*) FILTER (WHERE ms < ca) > 0 THEN 1 ELSE 0 END
           + CASE WHEN count(*) FILTER (WHERE ms >= ca AND ms < cb) > 0
                  THEN 1 ELSE 0 END
           + CASE WHEN count(*) FILTER (WHERE ms >= cb) > 0 THEN 1 ELSE 0 END
           + CASE WHEN count(*) FILTER (WHERE ms < r) > 0 THEN 1 ELSE 0 END
           AS BIGINT)                                           AS version
      FROM e CROSS JOIN cuts
    )
    SELECT * FROM (
      SELECT 'rows_before' AS metric, rows_before AS value FROM m
      UNION ALL SELECT 'rows_after', rows_after FROM m
      UNION ALL SELECT 'deleted_dirs', deleted_dirs FROM m
      UNION ALL SELECT 'rewritten_dirs', rewritten_dirs FROM m
      UNION ALL SELECT 'stats_row_total', rows_after FROM m
      UNION ALL SELECT 'version', version FROM m
    ) ORDER BY metric
    """,
)
def q313_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RETENTION audit, driver-oracled — the q306 discipline
    applied to ``ManifestStore.retain_before`` (this round's commit-
    native retention): the bounded events slice is ingested into a
    throwaway store as THREE time-tercile commits, retention runs at a
    cutoff inside the middle tercile, and the store's observable
    outcome (row counts, whole-dir metadata-only deletes, straddler
    rewrites, recomputed stats total, final version) must equal what
    SQL set algebra predicts from the raw table alone.  Every cutoff
    is integer arithmetic on epoch millis, identical in both engines.
    Scale shape: three bounded ingests + one retention commit; the
    whole audit output is six rows."""
    import shutil
    import tempfile

    from stock_ops_spark.sources.commitlog import ManifestStore

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 25 < 2).select(
        F.col("event_type").alias("ticker"),
        F.unix_millis("ts").alias("timestamp_UTC_ms"),
        F.col("value").cast("double").alias("price"),
        F.col("event_id").cast("bigint").alias("volume"),
        F.lit(None).cast("double").alias("ask_price"),
        F.lit(None).cast("double").alias("bid_price"),
        F.lit(None).cast("bigint").alias("ask_size"),
        F.lit(None).cast("bigint").alias("bid_size"),
    )
    bnd = ev.agg(
        F.min("timestamp_UTC_ms"), F.max("timestamp_UTC_ms")
    ).collect()[0]
    t0, t1 = int(bnd[0]), int(bnd[1])
    ca = t0 + (t1 - t0) // 3
    cb = t0 + (2 * (t1 - t0)) // 3
    r = (ca + cb) // 2
    n_before = ev.count()
    root = tempfile.mkdtemp(prefix="retain_audit_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        store = ManifestStore(spark, root)
        ms = F.col("timestamp_UTC_ms")
        store.ingest_batch(ev.where(ms < ca), "streaming")
        store.ingest_batch(ev.where((ms >= ca) & (ms < cb)), "streaming")
        store.ingest_batch(ev.where(ms >= cb), "streaming")
        res = store.retain_before("streaming", r)
        after = store.read_all("streaming")
        n_after = after.count() if after is not None else 0
        st = store.table_stats("streaming")
        stats_total = (
            int(st.agg(F.sum("row_count")).collect()[0][0] or 0)
            if st is not None
            else 0
        )
        rows = [
            ("deleted_dirs", res["deleted_dirs"]),
            ("rewritten_dirs", res["rewritten_dirs"]),
            ("rows_after", n_after),
            ("rows_before", n_before),
            ("stats_row_total", stats_total),
            ("version", store.version("streaming")),
        ]
        return _local_df(
            spark,
            rows, "metric string, value bigint"
        ).orderBy("metric")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q314_error_purchase_overlap",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_ms(ts) AS BIGINT) AS ms
      FROM events
    ),
    err AS (SELECT user_id, event_id AS eid, ms AS s1, ms + 600000 AS e1
            FROM e WHERE event_type = 'error'),
    pur AS (SELECT user_id, event_id AS pid, ms AS s2, ms + 600000 AS e2
            FROM e WHERE event_type = 'purchase'),
    pairs AS (
      SELECT err.user_id, eid, pid, abs(s1 - s2) AS gap
      FROM err JOIN pur
        ON err.user_id = pur.user_id AND s1 < e2 AND s2 < e1
    ),
    agg AS (
      SELECT user_id,
             count(*)            AS n_pairs,
             count(DISTINCT eid) AS n_err,
             count(DISTINCT pid) AS n_pur,
             min(gap)            AS min_gap_ms
      FROM pairs GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, n_pairs, n_err, n_pur, min_gap_ms,
             row_number() OVER (ORDER BY n_pairs DESC, user_id) AS rnk
      FROM agg
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(user_id AS BIGINT) AS user_id,
           CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_err AS BIGINT) AS n_err,
           CAST(n_pur AS BIGINT) AS n_pur,
           CAST(min_gap_ms AS BIGINT) AS min_gap_ms
    FROM ranked WHERE rnk <= 20
    """,
)
def q314_error_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/intervals.py): errors and
    purchases by the same user within ±10 minutes, as two interval sets
    [ts, ts+10min) joined on OVERLAP — the two-sided range join Spark
    compiles to a nested loop when written naively.  The operator grid-
    buckets time (cell = the interval length, ≤ 2 cells per interval),
    equi-joins on (user, cell) — a plain shuffled hash join — and keeps
    each pair exactly once via the reference-cell rule (the cell holding
    max(s1, s2)), so there is no distinct and no cartesian anywhere in
    the plan (test-pinned).  The DuckDB oracle states the same join as
    plain inequality SQL (IEJoin executes it natively) — equality of the
    two proves the grid strategy exact.  Output: top-20 users by
    overlapping (error, purchase) pair count, exact integers."""
    from stock_ops_spark.operators.intervals import interval_overlap_join

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_millis("ts").alias("ms")
    )
    err = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("eid"),
        F.col("ms").alias("start"),
        (F.col("ms") + 600000).alias("end"),
    )
    pur = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ms").alias("start"),
        (F.col("ms") + 600000).alias("end"),
    )
    pairs = interval_overlap_join(
        err, pur, grid=600000, keys=["user_id"]
    ).select(
        "user_id",
        "eid",
        "pid",
        F.abs(F.col("l_start") - F.col("r_start")).alias("gap"),
    )
    agg = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("eid").alias("n_err"),
        F.count_distinct("pid").alias("n_pur"),
        F.min("gap").alias("min_gap_ms"),
    )
    w = Window.orderBy(F.col("n_pairs").desc(), F.col("user_id"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_err").cast("bigint").alias("n_err"),
            F.col("n_pur").cast("bigint").alias("n_pur"),
            F.col("min_gap_ms").cast("bigint").alias("min_gap_ms"),
        )
    )


@_register(
    "q315_merge_upsert_audit",
    """
    WITH e AS (
      SELECT event_type AS tk, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 25 < 2
    ), src_new AS (
      SELECT event_type AS tk, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 25 = 2
    ), m AS (
      SELECT
        CAST((SELECT count(*) FROM e WHERE event_id % 4 = 0) AS BIGINT)
          AS n_updated,
        CAST((SELECT count(*) FROM src_new) AS BIGINT) AS n_inserted,
        CAST(CASE WHEN (SELECT count(*) FROM e WHERE event_id % 4 = 0) > 0
             THEN 1 ELSE 0 END AS BIGINT) AS rewritten_dirs,
        CAST((SELECT count(*) FROM e) + (SELECT count(*) FROM src_new)
          AS BIGINT) AS rows_total,
        CAST((SELECT sum(CASE WHEN event_id % 4 = 0 THEN cents + 100000
                              ELSE cents END) FROM e)
           + (SELECT coalesce(sum(cents), 0) FROM src_new)
          AS BIGINT) AS cents_total,
        CAST(2 AS BIGINT) AS version
    )
    SELECT * FROM (
      SELECT 'cents_total' AS metric, cents_total AS value FROM m
      UNION ALL SELECT 'n_inserted', n_inserted FROM m
      UNION ALL SELECT 'n_updated', n_updated FROM m
      UNION ALL SELECT 'rewritten_dirs', rewritten_dirs FROM m
      UNION ALL SELECT 'rows_total', rows_total FROM m
      UNION ALL SELECT 'version', version FROM m
    ) ORDER BY metric
    """,
)
def q315_merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MERGE (upsert) audit, driver-oracled — the q306/q313
    discipline applied to ``ManifestStore.merge``: the bounded events
    slice is ingested once (unique synthetic keys: event_id-derived
    timestamps), then a merge source REPLACES the price of every
    event_id % 4 == 0 key (+$1000, exact cents) and INSERTS the
    adjacent event_id % 25 == 2 slice as new keys.  The store's
    observable outcome — updated/inserted counts, file-pruned rewrite
    of exactly the one touched batch dir, final version, row count and
    the post-merge integer-cents checksum — must equal SQL set-algebra
    predictions from the raw events table.  Scale shape: one bounded
    ingest + one merge (semi-join probe prunes the rewrite to touched
    dirs) + one latest-view checksum aggregate; six output rows."""
    import shutil
    import tempfile

    from stock_ops_spark.sources.commitlog import ManifestStore

    def shape(df):
        return df.select(
            F.col("event_type").alias("ticker"),
            (F.col("event_id") * 1000).cast("bigint").alias(
                "timestamp_UTC_ms"
            ),
            F.col("value").cast("double").alias("price"),
            F.col("event_id").cast("bigint").alias("volume"),
            F.lit(None).cast("double").alias("ask_price"),
            F.lit(None).cast("double").alias("bid_price"),
            F.lit(None).cast("bigint").alias("ask_size"),
            F.lit(None).cast("bigint").alias("bid_size"),
        )

    ev = _t(spark, sf_dir, "events")
    base = shape(ev.where(F.col("event_id") % 25 < 2))
    upd = shape(
        ev.where((F.col("event_id") % 25 < 2) & (F.col("event_id") % 4 == 0))
    ).withColumn("price", F.col("price") + 1000.0)
    new = shape(ev.where(F.col("event_id") % 25 == 2))
    src = upd.unionByName(new)
    root = tempfile.mkdtemp(prefix="merge_audit_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        store = ManifestStore(spark, root)
        store.ingest_batch(base, "streaming")
        res = store.merge(src, "streaming")
        after = store.latest("streaming")
        agg = after.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("price") * 100).cast("bigint")).alias("c"),
        ).collect()[0]
        rows = [
            ("cents_total", int(agg["c"])),
            ("n_inserted", res["inserted"]),
            ("n_updated", res["updated"]),
            ("rewritten_dirs", res["rewritten_dirs"]),
            ("rows_total", int(agg["n"])),
            ("version", store.version("streaming")),
        ]
        return _local_df(
            spark,
            rows, "metric string, value bigint"
        ).orderBy("metric")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q317_ivf_recall_curve",
    """
    WITH el AS (
      SELECT label, i, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, 65)) AS t(i)
    ),
    cent AS (
      SELECT label, list(avg ORDER BY i) AS centroid
      FROM (SELECT label, i, avg(v) AS avg FROM el GROUP BY label, i)
      GROUP BY label
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 97 = 0
    ),
    routed AS (
      SELECT q.qid, c.label, q.qv,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(c.centroid, q.qv)
                        DESC NULLS LAST, c.label
             ) AS cell_rank
      FROM q, cent c
    ),
    cand AS (
      SELECT r.qid, r.cell_rank, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], r.qv) AS cs
      FROM routed r
      JOIN embeddings e ON e.label = r.label AND e.vec_id <> r.qid
    ),
    np AS (SELECT * FROM (VALUES (1), (2), (4), (1000000)) AS t(nprobe)),
    ranked AS (
      SELECT np.nprobe, c.qid, c.vec_id,
             row_number() OVER (
               PARTITION BY np.nprobe, c.qid
               ORDER BY c.cs DESC, c.vec_id
             ) AS rk
      FROM np JOIN cand c ON c.cell_rank <= np.nprobe
    ),
    topk AS (SELECT nprobe, qid, vec_id FROM ranked WHERE rk <= 5),
    truth AS (SELECT qid, vec_id FROM topk WHERE nprobe = 1000000),
    hits AS (
      SELECT t.nprobe, count(*) AS n_hit
      FROM topk t JOIN truth tr
        ON tr.qid = t.qid AND tr.vec_id = t.vec_id
      WHERE t.nprobe <> 1000000
      GROUP BY t.nprobe
    )
    SELECT np.nprobe::BIGINT AS nprobe,
           (SELECT count(DISTINCT qid) FROM truth)::BIGINT AS n_queries,
           (SELECT count(*) FROM truth)::BIGINT AS n_truth,
           coalesce(h.n_hit, 0)::BIGINT AS n_hit,
           round(coalesce(h.n_hit, 0) * 1.0
                 / (SELECT count(*) FROM truth), 6) AS recall_at_k
    FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe
    WHERE np.nprobe <> 1000000
    ORDER BY nprobe
    """,
)
def q317_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured IVF recall@5 vs nprobe (operators/similarity.py::
    ivf_recall_curve) — the curve that makes q24's nprobe knob a
    rational choice instead of a guess, feeding
    plans/sizing.py::ivf_nprobe(target_recall).  Ground truth probes
    EVERY cell through the same knn_join_ivf ranking path, so the
    number isolates probe misses from tie-ordering.  The oracle mirrors
    the whole pipeline (centroids -> per-query cell ranks -> in-cell
    exact rank -> recall join) in SQL; the curve rows are exact integer
    ratios.

    PERF (r11, VERDICT #1): the ground-truth top-k is served from the
    ``exact_topk_cached`` artifact — a pure function of (corpus
    version, query sample, k) that was previously re-ranked per call
    (34.9 s at sf1, the #1 registry cost).  Warm calls score only the
    cells within the probe budget (cellrk <= 4) and skip the
    full-frame truth window entirely; the cached truth is
    row-identical to the inline computation (same order-exact kernel,
    same tiebreak), so the curve and its oracle hash are unchanged."""
    from stock_ops_spark.operators.similarity import (
        exact_topk_cached,
        ivf_recall_curve,
    )

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    truth = exact_topk_cached(
        e, queries, k=5,
        source_path=catalog.table_path(sf_dir, "embeddings"),
    )
    return ivf_recall_curve(
        e, queries, k=5, nprobes=(1, 2, 4), truth=truth
    ).orderBy("nprobe")


@_register(
    "q316_matview_join_dim",
    """
    WITH e AS (
      SELECT event_type AS ticker,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE event_id % 25 < 2 AND event_id % 3 <> 0
    ),
    d AS (
      SELECT DISTINCT event_type AS ticker,
             upper(substr(event_type, 1, 2)) AS grp
      FROM events WHERE event_id % 25 < 2
    )
    SELECT d.grp AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(e.cents) AS BIGINT) AS cents
    FROM e JOIN d USING (ticker)
    GROUP BY d.grp
    ORDER BY grp
    """,
)
def q316_matview_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-enriched materialized view, end-to-end and driver-oracled
    (the q306/q315 discipline): an events slice is ingested into a
    throwaway ManifestStore in two commits, a ``MatView(join_dim=...)``
    (fact ⋈ broadcast dim → group-by sector) syncs INCREMENTALLY from
    the CDC feed after each commit, a DELETE retracts every third row,
    and the served view must equal the plain SQL fact⋈dim aggregate of
    the surviving rows — proving the join-view fold (insert + negative
    retraction, enriched space) exact through the mutation lifecycle.
    Scale shape: two bounded ingests + one file-pruned delete; each
    sync folds only that commit's delta (never a fact rescan — the
    measures are subtractable), and the dim rides a broadcast."""
    import os
    import shutil
    import tempfile

    from stock_ops_spark.plans.matview import MatView
    from stock_ops_spark.sources.commitlog import ManifestStore

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 25 < 2).select(
        F.col("event_type").alias("ticker"),
        F.unix_millis("ts").alias("timestamp_UTC_ms"),
        F.col("value").cast("double").alias("price"),
        F.col("event_id").cast("bigint").alias("volume"),
        F.lit(None).cast("double").alias("ask_price"),
        F.lit(None).cast("double").alias("bid_price"),
        F.lit(None).cast("bigint").alias("ask_size"),
        F.lit(None).cast("bigint").alias("bid_size"),
        (F.col("event_id") % 50 < 25).alias("__even"),
    )
    dim = (
        ev.select("ticker")
        .distinct()
        .select(
            "ticker", F.upper(F.substring("ticker", 1, 2)).alias("grp")
        )
        .localCheckpoint(eager=True)  # the versioned-broadcast pin:
        # the dim must be STABLE for the view's lifetime
    )
    root = tempfile.mkdtemp(prefix="mv_join_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        store = ManifestStore(spark, root)
        mv = MatView(
            spark,
            os.path.join(root, "mv"),
            ["grp"],
            {
                "n": ("count", None),
                "cents": ("sum", "CAST(round(price * 100) AS BIGINT)"),
            },
            join_dim=dim,
            join_on=["ticker"],
        )
        store.ingest_batch(ev.where(F.col("__even")).drop("__even"), "streaming")
        mv.sync(store, "streaming")
        store.ingest_batch(ev.where(~F.col("__even")).drop("__even"), "streaming")
        mv.sync(store, "streaming")
        store.delete_where("streaming", "volume % 3 = 0")
        mv.sync(store, "streaming")
        rows = mv.read().collect()
        return _local_df(
            spark,
            [(r["grp"], int(r["n"]), int(r["cents"])) for r in rows],
            "grp string, n bigint, cents bigint",
        ).orderBy("grp")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


def _q321_oracle() -> str:
    from stock_ops_spark.operators.clustering import kmeans_oracle_cte

    return f"""
    WITH {kmeans_oracle_cte(k=8, iters=3, dim=64)},
    q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    probed AS (
      SELECT c.cid FROM c3 c, q
      ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.cid
      LIMIT 3
    )
    SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
           CAST(a.cid AS BIGINT) AS cid,
           round(list_cosine_similarity(
             list_transform(e.embedding, x -> x::DOUBLE), q.qv), 6) AS cos_sim
    FROM embeddings e JOIN assign a USING (vec_id), q
    WHERE a.cid IN (SELECT cid FROM probed) AND e.vec_id <> 0
    ORDER BY list_cosine_similarity(
      list_transform(e.embedding, x -> x::DOUBLE), q.qv) DESC, e.vec_id
    LIMIT 10
    """


@_register("q321_ivf_index_topk", _q321_oracle())
def q321_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k SERVED FROM THE PERSISTED INDEX (operators/ivf.py):
    (centroids, cell assignments) persist once per corpus version —
    the Lloyd's fit shared with q113's model artifact — and appends
    assign only the delta against frozen centroids (VERDICT r8 #2).
    Where q24 derives cells from the label column per run and q113
    recomputes assignment per run, this query touches the corpus only
    to score candidates inside the 3 probed cells; routing and cell
    membership come entirely from the artifact tables.  The oracle
    replays the identical Lloyd iterations (kmeans_oracle_cte) from
    scratch, pinning the artifact path end-to-end: same cells, same
    probe choice, same exact ranking."""
    from stock_ops_spark.operators.ivf import ivf_index_cached, ivf_topk_from_index

    e = _t(spark, sf_dir, "embeddings")
    idx = ivf_index_cached(
        e,
        source_path=catalog.table_path(sf_dir, "embeddings"),
        k_cells=8,
        iters=3,
        dim=64,
    )
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    out = ivf_topk_from_index(
        e.where(F.col("vec_id") != 0),
        idx["centroids"],
        idx["assign"],
        qv,
        k=10,
        nprobe=3,
    )
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cid").cast("bigint").alias("cid"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


def _q322_oracle() -> str:
    from stock_ops_spark.operators.clustering import kmeans_oracle_cte

    return f"""
    WITH {kmeans_oracle_cte(k=8, iters=3, dim=64)},
    q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id % 37 = 0
    ),
    routed AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.cid
               ) AS rk
        FROM q CROSS JOIN c3 c
      ) WHERE rk <= 2
    ),
    cand AS (
      SELECT r.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(
               list_transform(e.embedding, x -> x::DOUBLE), r.qv) AS cs
      FROM routed r
      JOIN assign a ON a.cid = r.cid
      JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE e.vec_id <> r.query_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           round(cs, 6) AS cos_sim
    FROM (
      SELECT query_id, neighbor_id, cs,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, neighbor_id) AS rn
      FROM cand
    ) WHERE rn <= 3
    """


@_register("q322_ivf_index_knn_join", _q322_oracle())
def q322_ivf_index_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch approximate k-NN JOIN served from the persisted IVF index
    (operators/ivf.py::knn_join_from_index) — the query-SET twin of
    q321: every 37th vector routes to its 2 nearest frozen centroids
    (broadcast), meets corpus rows through an equi-join on the
    artifact's cell id, and per-query top-3 falls out of one ranking
    window.  Neither side is broadcast whole and the corpus is touched
    only inside probed cells — the shape that serves a production
    query stream at 100 TB.  Shares q321's artifact (one fit + one
    assignment per corpus version across all IVF consumers); the
    oracle replays the kmeans from scratch, pinning routing, cell
    membership and ranking end-to-end.

    PERF (r10, guarded r11): in-cell scoring runs the BLOCKED numpy
    kernel — the routed query set broadcasts as per-cell matrices and
    each (Arrow batch × cell) scores as one float64 Gram matmul with
    batch-local top-k (ties kept) instead of a zip_with+aggregate HOF
    per pair; exactness argument on ``knn_join_from_index`` (float32
    inputs → exact products; only summation grouping differs, ~1e-14 ≪
    the 6dp grid).  Measured 49.8 → 10.5 s at sf1 (4.7×), oracle
    unchanged.  The default is now kernel='auto' (ADVICE r10): this
    query's fixed-modulus sample grows with the corpus, so past
    |queries|×nprobe = max_routed the call falls back to the
    distributed HOF equi-join instead of silently driver-collecting an
    unbounded routed set (at sf1 the sample is ~5.7k queries — well
    inside the blocked regime)."""
    from stock_ops_spark.operators.ivf import ivf_index_cached, knn_join_from_index

    e = _t(spark, sf_dir, "embeddings")
    idx = ivf_index_cached(
        e,
        source_path=catalog.table_path(sf_dir, "embeddings"),
        k_cells=8,
        iters=3,
        dim=64,
    )
    queries = e.where(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = knn_join_from_index(
        e, idx["centroids"], idx["assign"], queries, k=3, nprobe=2
    )
    return out.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


@_register(
    "q325_group_commit_audit",
    """
    WITH b AS (
      SELECT event_id % 6 AS bid, event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 6 < 3
    ), c AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 6 = 3
    ), m AS (
      SELECT
        CAST((SELECT count(*) FROM b) AS BIGINT) AS group_rows,
        CAST(3 AS BIGINT) AS version_after_group,
        CAST((SELECT count(*) FROM c) * 2 AS BIGINT) AS fallback_rows,
        CAST(5 AS BIGINT) AS version_final,
        CAST((SELECT count(*) FROM b) + (SELECT count(*) FROM c) * 2
          AS BIGINT) AS rows_total,
        CAST((SELECT coalesce(sum(cents), 0) FROM b)
           + (SELECT coalesce(sum(cents + 100000), 0) FROM c)
          AS BIGINT) AS cents_latest,
        CAST(2 AS BIGINT) AS max_key_version
    )
    SELECT * FROM (
      SELECT 'cents_latest' AS metric, cents_latest AS value FROM m
      UNION ALL SELECT 'fallback_rows', fallback_rows FROM m
      UNION ALL SELECT 'group_rows', group_rows FROM m
      UNION ALL SELECT 'max_key_version', max_key_version FROM m
      UNION ALL SELECT 'rows_total', rows_total FROM m
      UNION ALL SELECT 'version_after_group', version_after_group FROM m
      UNION ALL SELECT 'version_final', version_final FROM m
    ) ORDER BY metric
    """,
)
def q325_group_commit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end batch-sequence audit, driver-oracled — the q315
    discipline applied to ``ManifestStore.ingest_batch``: three
    key-disjoint batches (per-batch ticker suffix) commit one version
    each (version_after_group = 3), then a deliberately CONFLICTING
    pair (same keys, different payload) commits two more, the
    conflicting copy version-chaining to 2.  The store's observable
    outcome — row counts per batch set, commit versions, max per-key
    version and the latest-view integer-cents checksum — must equal SQL
    set-algebra predictions from the raw events table.  Scale shape:
    five ingests + one latest-view aggregate; seven output rows."""
    import shutil
    import tempfile

    from stock_ops_spark.sources.commitlog import ManifestStore

    def shape(df, tick_suffix=None):
        tk = F.col("event_type")
        if tick_suffix is not None:
            tk = F.concat(tk, F.lit(f"_{tick_suffix}"))
        return df.select(
            tk.alias("ticker"),
            (F.col("event_id") * 1000).cast("bigint").alias(
                "timestamp_UTC_ms"
            ),
            F.col("value").cast("double").alias("price"),
            F.col("event_id").cast("bigint").alias("volume"),
            F.lit(None).cast("double").alias("ask_price"),
            F.lit(None).cast("double").alias("bid_price"),
            F.lit(None).cast("bigint").alias("ask_size"),
            F.lit(None).cast("bigint").alias("bid_size"),
        )

    ev = _t(spark, sf_dir, "events")
    group = [
        shape(ev.where(F.col("event_id") % 6 == i), tick_suffix=i)
        for i in range(3)
    ]
    c1 = shape(ev.where(F.col("event_id") % 6 == 3))
    c2 = c1.withColumn("price", F.col("price") + 1000.0)
    root = tempfile.mkdtemp(prefix="group_audit_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        store = ManifestStore(spark, root)
        counts = [store.ingest_batch(b, "streaming") for b in group]
        v_group = store.version("streaming")
        counts2 = [store.ingest_batch(b, "streaming") for b in (c1, c2)]
        after = store.latest("streaming")
        agg = after.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("price") * 100).cast("bigint")).alias("c"),
        ).collect()[0]
        maxv = store.read_all("streaming").agg(
            F.max("version").alias("v")
        ).collect()[0]["v"]
        total = store.read_all("streaming").count()
        rows = [
            ("cents_latest", int(agg["c"])),
            ("fallback_rows", int(sum(counts2))),
            ("group_rows", int(sum(counts))),
            ("max_key_version", int(maxv)),
            ("rows_total", int(total)),
            ("version_after_group", int(v_group)),
            ("version_final", int(store.version("streaming"))),
        ]
        return _local_df(
            spark,
            rows, "metric string, value bigint"
        ).orderBy("metric")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q329_stream_group_commit_audit",
    """
    WITH b AS (
      SELECT event_id % 8 AS bid,
             event_type || '_' || CAST(event_id % 8 AS VARCHAR) AS tk,
             event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 8 < 3
    ), m AS (
      SELECT
        CAST((SELECT count(*) FROM b) AS BIGINT) AS rows_total,
        CAST((SELECT coalesce(sum(cents), 0) FROM b) AS BIGINT)
          AS cents_latest,
        CAST((SELECT count(DISTINCT tk) FROM b) AS BIGINT) AS n_keys,
        CAST(1 AS BIGINT) AS max_key_version,
        CAST(3 AS BIGINT) AS batches_committed,
        CAST(0 AS BIGINT) AS replay_appended
    )
    SELECT * FROM (
      SELECT 'batches_committed' AS metric, batches_committed AS value FROM m
      UNION ALL SELECT 'cents_latest', cents_latest FROM m
      UNION ALL SELECT 'max_key_version', max_key_version FROM m
      UNION ALL SELECT 'n_keys', n_keys FROM m
      UNION ALL SELECT 'replay_appended', replay_appended FROM m
      UNION ALL SELECT 'rows_total', rows_total FROM m
    ) ORDER BY metric
    """,
)
def q329_stream_group_commit_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONCURRENT writers into one store, end-to-end and driver-oracled
    — the q325 discipline applied to the streaming shape: three
    key-disjoint event slices are ingested by three concurrent threads
    calling ``store.ingest_batch`` (what several streams' foreachBatch
    do), and one slice is then REPLAYED (at-least-once) and must append
    nothing.  Every reported metric is timing-independent — store
    CONTENT (row count, integer-cents checksum, distinct keys, per-key
    max version) plus the commit count before the replay, one per
    batch however the threads interleave (the commit loop rebases a
    key-disjoint loser).  Scale shape: three bounded ingests + one
    replay probe + one latest-view aggregate; six output rows."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from stock_ops_spark.sources.commitlog import ManifestStore

    ev = _t(spark, sf_dir, "events")

    def shape(df, suffix):
        return df.select(
            F.concat(
                F.col("event_type"), F.lit(f"_{suffix}")
            ).alias("ticker"),
            (F.col("event_id") * 1000).cast("bigint").alias(
                "timestamp_UTC_ms"
            ),
            F.col("value").cast("double").alias("price"),
            F.col("event_id").cast("bigint").alias("volume"),
            F.lit(None).cast("double").alias("ask_price"),
            F.lit(None).cast("double").alias("bid_price"),
            F.lit(None).cast("bigint").alias("ask_size"),
            F.lit(None).cast("bigint").alias("bid_size"),
        )

    batches = [
        shape(ev.where(F.col("event_id") % 8 == i), i) for i in range(3)
    ]
    root = tempfile.mkdtemp(prefix="scoord_audit_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        store = ManifestStore(spark, root)
        with ThreadPoolExecutor(3) as pool:
            for f in [
                pool.submit(store.ingest_batch, b, "streaming") for b in batches
            ]:
                f.result()
        committed = store.version("streaming")
        replay = store.ingest_batch(batches[0], "streaming")
        after = store.latest("streaming")
        agg = after.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("price") * 100).cast("bigint")).alias("c"),
            F.countDistinct("ticker").alias("k"),
        ).collect()[0]
        maxv = store.read_all("streaming").agg(
            F.max("version")
        ).collect()[0][0]
        rows = [
            ("batches_committed", int(committed)),
            ("cents_latest", int(agg["c"])),
            ("max_key_version", int(maxv)),
            ("n_keys", int(agg["k"])),
            ("replay_appended", int(replay)),
            ("rows_total", int(agg["n"])),
        ]
        return _local_df(
            spark,
            rows, "metric string, value bigint"
        ).orderBy("metric")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q330_ivf_refresh_decision",
    """
    WITH el AS (
      SELECT label, i, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, 65)) AS t(i)
    ),
    cent AS (
      SELECT label, list(avg ORDER BY i) AS centroid
      FROM (SELECT label, i, avg(v) AS avg FROM el GROUP BY label, i)
      GROUP BY label
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 97 = 0
    ),
    routed AS (
      SELECT q.qid, c.label, q.qv,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(c.centroid, q.qv)
                        DESC NULLS LAST, c.label
             ) AS cell_rank
      FROM q, cent c
    ),
    cand AS (
      SELECT r.qid, r.cell_rank, e.vec_id,
             list_cosine_similarity(e.embedding::DOUBLE[], r.qv) AS cs
      FROM routed r
      JOIN embeddings e ON e.label = r.label AND e.vec_id <> r.qid
    ),
    np AS (SELECT * FROM (VALUES (1), (2), (4), (1000000)) AS t(nprobe)),
    ranked AS (
      SELECT np.nprobe, c.qid, c.vec_id,
             row_number() OVER (
               PARTITION BY np.nprobe, c.qid
               ORDER BY c.cs DESC, c.vec_id
             ) AS rk
      FROM np JOIN cand c ON c.cell_rank <= np.nprobe
    ),
    topk AS (SELECT nprobe, qid, vec_id FROM ranked WHERE rk <= 5),
    truth AS (SELECT qid, vec_id FROM topk WHERE nprobe = 1000000),
    hits AS (
      SELECT t.nprobe, count(*) AS n_hit
      FROM topk t JOIN truth tr
        ON tr.qid = t.qid AND tr.vec_id = t.vec_id
      WHERE t.nprobe <> 1000000
      GROUP BY t.nprobe
    ),
    curve AS (
      SELECT np.nprobe AS nprobe,
             round(coalesce(h.n_hit, 0) * 1.0
                   / (SELECT count(*) FROM truth), 6) AS recall_at_k
      FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe
      WHERE np.nprobe <> 1000000
    ),
    kc AS (SELECT count(DISTINCT label) AS k FROM embeddings),
    targets AS (SELECT * FROM (VALUES (0.51), (0.87), (0.999)) AS t(target))
    SELECT CAST(t.target AS DOUBLE) AS target_recall,
           CAST(coalesce(
             (SELECT min(nprobe) FROM curve WHERE recall_at_k >= t.target),
             (SELECT max(nprobe) * 2 FROM curve)
           ) AS BIGINT) AS nprobe_pick,
           (NOT EXISTS (
             SELECT 1 FROM curve, kc
             WHERE nprobe <= greatest(k // 2, 1)
               AND recall_at_k >= t.target
           )) AS refresh_needed
    FROM targets t
    ORDER BY target_recall
    """,
)
def q330_ivf_refresh_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantizer-refresh DECISION LOOP over real data, driver-
    oracled (VERDICT r9 #3, the sizing half): measure the recall@5
    curve over the label-cell IVF (q317's pipeline — ground truth by
    probing every cell through the same ranking path), then for a
    ladder of recall targets report what ``plans/sizing.ivf_nprobe``
    picks and whether ``plans/sizing.ivf_refresh_needed`` pulls the
    offline re-train trigger (no point with nprobe ≤ cells/2 reaches
    the target).  The oracle replays curve AND both decisions in SQL,
    pinning the policy — not just the measurement — bit-identically.
    Targets are chosen off the representable recall grid (multiples of
    1/n_truth), so the ≥ comparisons never sit on a boundary.

    PERF (r11): the ground truth comes from the same
    ``exact_topk_cached`` artifact q317 serves — identical corpus,
    query sample, and k, so one cold build covers both entries."""
    from stock_ops_spark.operators.similarity import (
        exact_topk_cached,
        ivf_recall_curve,
    )
    from stock_ops_spark.plans.sizing import ivf_nprobe, ivf_refresh_needed

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    k_cells = e.select("label").distinct().count()
    truth = exact_topk_cached(
        e, queries, k=5,
        source_path=catalog.table_path(sf_dir, "embeddings"),
    )
    curve = [
        (int(r.nprobe), float(r.recall_at_k))
        for r in ivf_recall_curve(
            e, queries, k=5, nprobes=(1, 2, 4), truth=truth
        ).collect()
    ]
    rows = [
        (t, int(ivf_nprobe(t, curve)), bool(ivf_refresh_needed(curve, t, k_cells)))
        for t in (0.51, 0.87, 0.999)
    ]
    return _local_df(
            spark,
        rows, "target_recall double, nprobe_pick bigint, refresh_needed boolean"
    ).orderBy("target_recall")


def _q331_oracle() -> str:
    from stock_ops_spark.operators.clustering import kmeans_oracle_cte

    return f"""
    WITH b0 AS (SELECT * FROM embeddings WHERE vec_id % 3 = 0),
    {kmeans_oracle_cte(k=8, iters=3, dim=64, fit_source="b0")}
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec,
           CAST(min(vec_id) AS BIGINT) AS min_vec,
           CAST(max(vec_id) AS BIGINT) AS max_vec
    FROM assign
    GROUP BY cid
    ORDER BY cid
    """


@_register("q331_streaming_ivf_ingest", _q331_oracle())
def q331_streaming_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF at-ingest assignment, end-to-end and driver-
    oracled (VERDICT r10 #6 — the vector twin of q328's span
    unification): the embeddings corpus arrives as three micro-batches
    into ``streaming/ivf.py::StreamingIVFIndex``.  The coarse
    quantizer is FROZEN from a Lloyd fit of the FIRST batch (the
    bootstrap posture: train offline on what has arrived, assign
    online forever after); each subsequent batch folds only its fresh
    vectors (fingerprint ±delta, the batch artifact's own detector)
    against those frozen centroids — one map-side assignment pass, no
    corpus rescan.  Batch 2 is RE-DELIVERED identically before batch 3
    (at-least-once), and must fold to nothing: the output histogram —
    per-cell (count, sum, min, max) over every vec_id, an exact
    checksum of the full assignment — would double-count under a
    broken fold.  The oracle replays the same Lloyd iterations with
    the fit restricted to batch 0 (``kmeans_oracle_cte(fit_source=
    'b0')``) and assigns the full corpus, pinning quantizer, fold and
    dedup bit-identically.  Scale shape per batch: one fingerprint
    anti-join against the state (never a corpus rescan) + one
    append."""
    import shutil
    import tempfile

    from stock_ops_spark.operators.clustering import kmeans_fit
    from stock_ops_spark.streaming.ivf import StreamingIVFIndex

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b0 = e.where(F.col("vec_id") % 3 == 0)
    cents = kmeans_fit(b0, k=8, iters=3, dim=64)
    root = tempfile.mkdtemp(prefix="sivf_")
    try:
        idx = StreamingIVFIndex(spark, root, cents)
        for part in range(3):
            idx.process_batch(e.where(F.col("vec_id") % 3 == part))
            if part == 1:  # at-least-once: identical re-delivery
                assert idx.process_batch(
                    e.where(F.col("vec_id") % 3 == 1)
                ) == 0
        out = (
            idx.state()["assign"]
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.sum("vec_id").cast("bigint").alias("sum_vec"),
                F.min("vec_id").cast("bigint").alias("min_vec"),
                F.max("vec_id").cast("bigint").alias("max_vec"),
            )
            .select(
                F.col("cid").cast("bigint").alias("cid"),
                "n_vectors", "sum_vec", "min_vec", "max_vec",
            )
            .orderBy("cid")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q332_streaming_bm25_served",
    """
    WITH toks AS (
      SELECT doc_id, t.term
      FROM documents,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              x -> x <> '')) AS t(term)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    s AS (SELECT (SELECT count(*) FROM documents) AS n,
                 (SELECT count(*) FROM toks)      AS t),
    q AS (SELECT * FROM (VALUES ('spark'), ('join'), ('vector'), ('merge'))
          AS v(term)),
    df AS (SELECT tf.term, count(*) AS df
           FROM tf JOIN q USING (term) GROUP BY tf.term),
    scored AS (
      SELECT tf.doc_id,
             CAST(
               (CAST(2 * s.n - 2 * df.df + 1 AS HUGEINT)
                  * CAST(22 * tf.tf AS HUGEINT)
                  * CAST(s.t AS HUGEINT) * 1000000)
               // (CAST(2 * df.df + 1 AS HUGEINT)
                     * (CAST(10 * s.t AS HUGEINT) * tf.tf
                        + CAST(3 * s.t AS HUGEINT)
                        + CAST(9 * dl.dl AS HUGEINT) * s.n))
               AS BIGINT) AS term_score
      FROM tf JOIN q USING (term) JOIN df ON df.term = tf.term
              JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN s
    ),
    docs AS (
      SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_hit_terms
      FROM scored GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, score, n_hit_terms,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM docs
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, CAST(doc_id AS BIGINT) AS doc_id,
           score, n_hit_terms
    FROM ranked WHERE rnk <= 10
    """,
)
def q332_streaming_bm25_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from the STREAMED lexical state, end-to-end
    and driver-oracled (r11 — the retrieval twin of q328's span and
    q331's IVF unifications): the documents corpus arrives as three
    micro-batches into ``streaming/lexical.py::StreamingLexicalIndex``,
    which folds each batch's ±delta into the SAME three tables the
    batch BM25 artifact persists (postings/dl append-only per fresh
    doc; df as log-structured partials whose merge equals
    doc_frequency exactly).  Batch 2 is RE-DELIVERED identically
    before batch 3 (at-least-once) and must fold to nothing — df
    partials would double-count and every score would shift under a
    broken fold.  The serve is ``operators/lexical.bm25_topk`` over
    the streamed state: exact-integer rational scoring, so the oracle
    (q278's from-scratch HUGEINT SQL over the full corpus) pins
    quantization-free equality between stream-folded retrieval and a
    cold batch build.  Scale shape per batch: one fingerprint
    anti-join against the state (never a corpus rescan), tokenize the
    FRESH docs only, three appends."""
    import shutil
    import tempfile

    from stock_ops_spark.operators.lexical import bm25_topk
    from stock_ops_spark.streaming.lexical import StreamingLexicalIndex

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="slex_")
    try:
        idx = StreamingLexicalIndex(spark, root)
        for part in range(3):
            idx.process_batch(d.where(F.col("doc_id") % 3 == part))
            if part == 1:  # at-least-once: identical re-delivery
                assert idx.process_batch(
                    d.where(F.col("doc_id") % 3 == 1)
                ) == 0
        st = idx.state()
        out = bm25_topk(
            spark, st["postings"], st["dl"], st["df"],
            ["spark", "join", "vector", "merge"], k=10,
        ).localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)
