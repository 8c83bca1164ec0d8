"""Plan-hygiene audit: inspect the physical plan of every registered
query for scale-killers, without executing anything.

Flags raised per query:

- ``cartesian``      — CartesianProduct in the plan (all-pairs work).
- ``bnlj``           — BroadcastNestedLoopJoin whose build side is NOT
                       a sanctioned tiny broadcast (the ANN queries
                       cross-join a broadcast 1-row query vector; that
                       BNLJ streams the big side once and is the
                       intended plan).
- ``python_row_udf`` — BatchEvalPython (row-at-a-time Python UDF).
                       ArrowEvalPython (pandas UDFs) is allowed.
- ``local_rdd``      — ``Scan ExistingRDD`` outside the sanctioned set:
                       the plan of a ``createDataFrame`` over a Python
                       list (an RDD of local rows, one extra Spark
                       job). Small local tables belong in an
                       inline ``VALUES`` relation
                       (``geo.sqlrender.values_sql``), which plans as a
                       LocalRelation.

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if any unsanctioned flag fires — wired into pytest
(tests/test_plan_hygiene.py) so a regression cannot land silently.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

# BNLJ with a broadcast single-row build side is the intended plan for
# these (query-vector cross join for the ANN queries; the 1-row
# corpus-totals aggregate for the mixture queries); everything else
# must justify itself
BNLJ_SANCTIONED = {
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_multi_topk",
    "ann_recall_report",  # broadcast query dim on both retrieval sides
    "ann_range_search",  # broadcast 1-row query vector, zero-shuffle scan
    "ann_hamming_topk",  # broadcast 1-row query signature, top-k scan
    "ann_hamming_rerank",  # same + broadcast k'-candidate rerank stage
    "ann_filtered_topk",  # broadcast 1-row query vector over the filtered scan
    "mmr_rerank",  # broadcast 1-row query vector; greedy is a bounded 1-task stage
    "knn_multi",  # broadcast N-origin dim fan-out, big side streams once
    "keyword_search",  # 1-row corpus-total joined onto the tiny term dim
    "bm25_search",  # same 1-row (N, avgdl) stats row on the term dim
    "mixture_rates",
    "mixture_sample",
    "global_sales_opportunity",  # broadcast 1-row positive-balance aggregate
    "tfidf_topk_terms",  # broadcast 1-row corpus-size aggregate
    "skew_report",  # broadcast 1-row table-total aggregate
    "srm_check",  # broadcast 1-row unit-total onto the |arms|-row dim
    "tfidf_cosine_pairs",  # broadcast 1-row corpus-size aggregate
    "unigram_lm_score",  # broadcast 1-row token-total aggregate
    "pagerank_event_types",  # broadcast 1-row node-count aggregate
    "zorder_layout",  # broadcast 1-row global min/max range aggregate
    "hilbert_layout",  # same 1-row range broadcast as zorder_layout
    "dense_daily_counts",  # broadcast spine x keys dim product (tiny dims)
    "cusum_days",  # inherits the dense spine dim product + 1-row totals
    "triangle_count",  # final assembly joins two 1-row aggregates
    "association_rules",  # broadcast 1-row basket-count aggregate
    "chi2_lang_source",  # dense cell grid = product of two tiny category dims
    "sketch_stats",  # 1-row distinct-count x 1-row percentile assembly
    "orphan_check",  # per-relationship 1-row counts x 1-row orphan total
    "benford_revenue",  # broadcast 1-row total for the ppm share
    "collocations_pmi",  # broadcast 1-row unigram/bigram totals
    "zipf_fit",  # bounded N x N self-join of the top-N term dim
    "mad_anomalies",  # broadcast 1-row median / MAD selections
    "weekday_seasonality",  # broadcast 1-row total for the ppm share
    "autocorr_daily",  # 1-row exact-moment aggregate assembly
    "vocab_drift",  # broadcast 1-row per-cohort token totals
    "important_parts",  # broadcast 1-row (count, sum) share threshold
    "hybrid_search_rrf",  # inherits bm25's 1-row stats + ann's 1-row query
    "vocab_coverage",  # broadcast 1-row corpus totals onto the 1-row vocab sum
    "temperature_mixture",  # broadcast 1-row normalizing totals
    "ngram_coverage_curve",  # broadcast 1-row occurrence total onto top-k
    # --- round-7 additions: calendar-/dim-bounded non-equi pair joins
    "theil_sen_trend",  # day-frame theta self-join, calendar²-bounded pairs
    "mann_kendall",  # same day-frame pair join + 1-row S assembly
    "churn_hazard",  # lifetime-histogram suffix-sum triangle (calendar dim)
    "lorenz_revenue",  # buckets² triangle over the 10-row decile dim
    "t_closeness",  # broadcast 1-row corpus total onto the cell dim
    "source_vocab_overlap",  # |sources|² pair grid of the tiny sizes dim
    "time_to_purchase",  # broadcast 1-row percentile selection assembly
    "heaps_law",  # broadcast 1-row prefix-boundary dim onto two frames
    "daily_fano",  # inherits dense_daily_counts' spine x keys dim product
    # --- round-8 additions
    "ivf_nprobe_curve",  # nprobe grid x k-hit dim (nlist*k rows) + 1-row query
    "token_entropy_rate",  # broadcast 1-row corpus totals onto vocab cells
    "curation_funnel",  # broadcast 1-row raw count onto the |stages| dim
    "changepoint_days",  # inherits dense_daily_counts' spine x keys dim product
    "dedup_threshold_curve",  # broadcast threshold grid over the pair frame
    # --- round-9 additions
    "mmr_rerank_multi",  # broadcast |queries|-row dim; big side streams once
    "kendall_tau",  # day-frame pair join, calendar²-bounded (mann_kendall)
    "negative_sample",  # broadcast pool-row dim; anchors stream once
    "cuped_ab",  # broadcast 1-row cutoff + 1-row pooled-moments dims
    # --- round-10 additions
    "negative_sample_stratified",  # broadcast |sources|*16-row pool dim
    "retrieval_mrr",  # broadcast |queries|-row dim (ann_recall_report shape)
    "epoch_allocation",  # broadcast 1-row corpus-total (mixture_rates shape)
    # --- round-11 additions
    "curriculum_order",  # broadcast |sources|-row sizes dim fan-out for the
    # closed-form interleave position; ranked side streams once
    "bloom_filter_audit",  # three 1-row count aggregates assembled crossJoin
    "conformal_coverage",  # score-VALUE dim cumulative triangle (bounded by
    # distinct-score cardinality) + 1-row n_cal/threshold broadcasts
    "label_knn_agreement",  # broadcast |queries|-row dim (ann_cosine shape)
    "retrieval_map",  # same broadcast query dim; post-top-k is bounded
    "lang_kappa",  # 1-row totals x 1-row chance-mass assembly
    "retrieval_ndcg",  # broadcast |queries|-row dim (ann_cosine shape)
}


# Queries whose plans scan an RDD today: a local
# createDataFrame(list) dim (curriculum_order's (source, shard)
# offsets, similarity and dedup dims, ...) or a checkpointed stage
# (graph and clustering loops). Sharded-rank offsets are plan literals
# (rank.shard_case_sql) and never scan an RDD. None is on the geo
# serving path; a new small table there belongs in a VALUES relation,
# not in this set.
LOCAL_RDD_SANCTIONED = {
    "ann_recall_report", "benford_revenue", "boilerplate_coverage",
    "bpe_learned_counts", "containment_pairs", "corpus_pipeline",
    "curation_funnel", "curriculum_order", "dbscan", "dedup_clusters",
    "dedup_keep_best", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_recall_report", "dedup_threshold_curve", "dup_cluster_sizes",
    "dup_source_matrix", "edit_distance_pairs", "ivf_nprobe_curve",
    "leakage_safe_split", "lpa_communities", "pagerank_event_types",
    "retrieval_mrr", "spatial_clusters", "split_balance",
    "split_drift_audit", "srm_check", "tfidf_cosine_pairs",
    "trajectory_similarity", "triangle_count",
}


def audit(spark, sf_dir: str) -> dict[str, list[str]]:
    import __spark_entry__ as entrymod

    flags: dict[str, list[str]] = {}
    for name, fn in entrymod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        bad = []
        if "CartesianProduct" in plan:
            bad.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_SANCTIONED:
            bad.append("bnlj")
        if "BatchEvalPython" in plan:
            bad.append("python_row_udf")
        if "Scan ExistingRDD" in plan and name not in LOCAL_RDD_SANCTIONED:
            bad.append("local_rdd")
        if bad:
            flags[name] = bad
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from hbase_gis_spark.session import make_session

    spark = make_session(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    flags = audit(spark, sf_dir)
    for name, bad in sorted(flags.items()):
        print(f"FLAG  {name}: {', '.join(bad)}")
    if not flags:
        print("ok    no scale-killer plan shapes in any registered query")
    spark.stop()
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
