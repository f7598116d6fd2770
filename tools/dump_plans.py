"""Dump the formatted physical plan of every headline query to
PLANS_APPENDIX.md — the inspectable evidence for PLANS.md's claims
(pushdown, broadcast choices, TakeOrdered, partial aggregation).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from columnar_database_project_spark.session import get_spark  # noqa: E402

# Headline set: reference-canonical filter + TPC-H-ish classics + the
# training-data pipeline operators.
HEADLINE = [
    "filter_between",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "topk",
    "window_rank",
    "events_sessionize",
    "text_token_stats",
    "text_corpus_build",
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_embedding_cosine",
    "sim_topk_bruteforce",
]

# Non-headline operators whose plan shape PLANS.md or the round
# analysis discusses — dumped after the headline so the claims about
# them (single scan, unhinted joins, TakeOrdered, partial DxD
# aggregation) are inspectable too.
EXTRA_PLANS = [
    "text_bm25_topk",
    "text_token_budget_select",
    "text_chunk_dup_rate",
    "emb_gram_matrix",
    "events_pivot_user_counts",
    "sim_ivf_recall_curve",
    "emb_kmeans_step",
    "dedup_semantic",
    "corpus_snapshot_diff",
    "text_weighted_sample",
    "stats_key_skew",
    "text_term_drift",
    "emb_cluster_sample",
    "join_skew_salted",
    "engine_merge_upsert",
    "events_markov_transitions",
    "text_ngram_novelty",
    "text_pack_efficiency",
    "dedup_cluster_size_hist",
    "dedup_minhash_est_error",
    "events_rfm_segments",
    "text_tfidf_cosine_pairs",
    "sketch_count_min",
    "sketch_cms_estimates",
    "text_corpus_build_incremental",
    "text_curriculum_order",
    "dedup_containment",
    "text_zipf_slope",
    "stats_correlation",
    "events_gapfill",
    "sim_knn_classify",
    "emb_centroid_outliers",
    "sim_knn_graph",
    "emb_knn_clusters",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "sim_ivfpq_topk",
    "sim_filtered_topk",
    "hybrid_rrf_topk",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        "dump_plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    out = [
        "# PLANS_APPENDIX — formatted physical plans of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` over `{sf_dir}`. Regenerate "
        "after any plan-shape change; PLANS.md interprets these.",
        "",
    ]
    names = list(HEADLINE) + [n for n in EXTRA_PLANS if n in qs]
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(REPO, "PLANS_APPENDIX.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS_APPENDIX.md ({len(names)} plans)")


if __name__ == "__main__":
    main()
