"""Regenerate PLANS.md: formatted physical plans of the headline queries,
so plan quality (pushdown, broadcast, single-pass aggregates, top-k) is
reviewable without running Spark.

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINERS = [
    "q01_pricing_summary",
    "q05_region_revenue",
    "q13_session_ohlc",
    "q14_asof_nearest_purchase",
    "q18_cosine_topk",
    "q21_minhash_near_dup",
    "q24_ivf_topk",
    "q54_nation_pair_volume",
    "q36_embedding_neardup_pairs",
    "q70_neardup_clusters",
    "q74_tfidf_top_terms",
    "q77_embedding_quantization",
    "q81_within_cluster_knn",
    "q87_bollinger_breaches",
    "q93_decontamination",
    "q100_filtered_ann",
    "q234_editdist_neardup_docs",
    "q280_embedding_dim_correlation",
    "q304_psi_distribution_drift",
    "q317_ivf_recall_curve",
    "q318_duplicated_spans",
    "q320_span_scrub_stats",
    "q321_ivf_index_topk",
    "q322_ivf_index_knn_join",
    "q333_schedule_fleet_fires",
]


def main() -> None:
    from stock_ops_spark import queries as Q
    from stock_ops_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.001; plan shapes are",
        "scale-invariant).  What to look for: `PushedFilters` on scans,",
        "`BroadcastHashJoin` on dims, `TakeOrderedAndProject` for top-k,",
        "single `Exchange` per aggregate, no `CartesianProduct`.",
        "",
    ]
    for name in HEADLINERS:
        df = Q.QUERIES[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINERS)} plans")


if __name__ == "__main__":
    main()
