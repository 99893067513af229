"""Central query registry: the correctness-gate inventory.

Each entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle string (run by DuckDB over the same parquet tables). Column names
are aliased identically on both sides — the driver's comparator sorts
columns by name and hashes values, so names must match exactly.

Floating-point aggregates are rounded identically on both sides (sums of
doubles accumulate in engine-specific order; rounding to a few decimals
makes the hash comparison robust while still catching real bugs).

The queries exercise the operator inventory of SURVEY.md §2; each
QuerySpec docstring cites the reference operator it proves parity with.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL twin; every gate is value-checked against it
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if not oracle or not oracle.strip():
            # a gate without its DuckDB twin verifies nothing
            raise ValueError(f"gate {name!r} needs a non-empty oracle")
        if name in _REGISTRY:
            # a silent overwrite would drop a gate from the driver's
            # correctness sweep without any test failing
            raise ValueError(f"duplicate gate name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


# STANDING DRIVER-CONFIRMATION ROTATION POLICY (rounds 8+): the driver
# verifies a ~50-entry PREFIX of all_queries() per round — that prefix is
# the round's evidence budget. At the start of each round, fold the
# previous round's green CORRECTNESS names into _DRIVER_CONFIRMED_ROUND
# (value = that round number), remove them from _NEVER_SAMPLED, and put
# any still-never-sampled gates plus everything registered during the
# previous round at the head (bucket 0/1). Whatever slots remain go to
# the confirmed tail, OLDEST-latest-round first (bucket 2) — so with
# ~273 gates and ~50 slots/round the whole registry re-confirms on a
# ~5-6 round rotation even when no new gates land. Gates registered
# mid-round need no table edit: bucket 1 picks them up automatically in
# registration order. The r4 lesson stands: an unrebuilt prefix
# re-samples already-confirmed gates and new ones never get hard driver
# evidence.
#
# The fold is automated: `python scripts/rotate_registry.py
# CORRECTNESS_rN.json N` rewrites this table (refusing non-green rows);
# a pytest keeps the script and the table format in lockstep. Update
# the paragraph below by hand each round.
#
# State after round 16 (rebuilt for round 17, OPTIMIZATION round 2):
# 379 registered gates, CORRECTNESS_r16 50/50 green, driver-checked
# union r01-r16 = 379/379, zero mismatches ever. _NEVER_SAMPLED stays
# empty; round 17 is an optimization round (no net-new gates), so the
# round-17 window = the 29 remaining r9 rows + the oldest 21 of the 50
# r10 rows (bucket 2, oldest-first) — by r17-close no evidence row
# should be older than r10 (burn-down promise from r16). Per-round
# counts after this fold: 29 x r9, 50 each r10-r16.

_NEVER_SAMPLED: tuple[str, ...] = ()

_DRIVER_CONFIRMED_ROUND: dict[str, int] = {
    # latest driver row: round 9 (29 gates)
    "krippendorff_langid": 9, "kv_split": 9, "lang_id": 9,
    "mondrian_conformal_prices": 9, "multimodal_pipeline": 9,
    "near_dedup_clustered": 9, "near_dedup_corpus": 9, "pii_scrub": 9,
    "pinball_loss_priorities": 9, "pr_auc_orderstatus": 9,
    "pricing_summary": 9, "quality_score": 9, "quantile_summary": 9,
    "repetition_signals": 9, "rollup_agg": 9, "secondary_sort": 9,
    "sequence_packing": 9, "set_intersect": 9, "sprt_daily_returns": 9,
    "text_normalize": 9, "tf_idf": 9, "token_counts": 9, "topk_orders": 9,
    "uniq_capped": 9, "value_histogram": 9, "window_analytics": 9,
    "window_range_frame": 9, "window_rank_family": 9, "yule_k_tokens": 9,
    # latest driver row: round 10 (50 gates)
    "ann_rp_lsh_topk": 10, "approx_quantile_bounds": 10, "bbp_pi": 10,
    "boilerplate_removal": 10, "cohort_retention": 10,
    "concurrent_events": 10, "corpus_drift": 10, "corpus_pipeline_v2": 10,
    "dbcount_pageview": 10, "dedup_incremental": 10, "dedup_simhash": 10,
    "duplicate_span_stats": 10, "duplicate_spans": 10, "event_funnel": 10,
    "event_interval_join": 10, "ewma_chart_daily_returns": 10,
    "fuzzy_term_join": 10, "grep_top": 10, "grouped_topk": 10,
    "grouping_sets_agg": 10, "hash_sample_orders": 10, "herdan_c_tokens":
    10, "hll_distinct_rollup": 10, "inactive_rich_customers": 10,
    "large_volume_customer": 10, "lm_perplexity": 10,
    "local_supplier_volume": 10, "nation_value_share": 10, "nqueens": 10,
    "order_priority_exists": 10, "pagerank_nations": 10,
    "per_group_sample_orders": 10, "profile_orders": 10,
    "quantile_buckets": 10, "range_join": 10, "returned_items_topk": 10,
    "run_rules_daily_returns": 10, "scd2_user_status": 10, "semdedup": 10,
    "session_window": 10, "sessionize": 10, "set_ops_bag": 10,
    "shipping_priority": 10, "simpson_d_tokens": 10, "token_entropy": 10,
    "winnow_fingerprint_stats": 10, "word_stats": 10, "wordcount": 10,
    "xml_records": 10, "youden_j_orderstatus": 10,
    # latest driver row: round 11 (50 gates)
    "ann_ivf_pq_topk": 11, "ann_pq_adc_topk": 11, "bfs_trade_reach": 11,
    "bm25_retrieval": 11, "brunner_munzel_price": 11,
    "centroid_separation": 11, "cms_heavy_hitters": 11, "cms_join_size":
    11, "containment_dedup": 11, "contrastive_negatives": 11,
    "corpus_pipeline_v3": 11, "corpus_report": 11,
    "cross_source_duplication": 11, "customer_distribution": 11,
    "daily_event_anomaly": 11, "data_validation": 11,
    "disjunctive_filter_revenue": 11, "duplicate_safe_split": 11,
    "durbin_watson_daily_returns": 11, "embedding_gram": 11,
    "excess_volume_suppliers": 11, "forecast_revenue": 11,
    "gap_fill_hourly": 11, "hapax_richness_tokens": 11, "inverted_index":
    11, "jaccard_prefix_dedup": 11, "key_skew_report": 11,
    "kll_quantile_rollup": 11, "kn_bigram_model": 11,
    "late_lines_priority": 11, "latest_event_per_user": 11,
    "lineitem_corr": 11, "mad_event_anomaly": 11,
    "merge_upsert_customers": 11, "merged_user_coverage": 11,
    "min_acctbal_supplier": 11, "national_market_share": 11,
    "nelson_rules_daily_returns": 11, "side_data_lookup": 11,
    "skew_salted_join": 11, "sliding_window": 11,
    "stratified_sample_orders": 11, "supplier_part_counts": 11,
    "token_budget_mix": 11, "train_holdout_split": 11,
    "ttr_family_tokens": 11, "tumbling_window": 11, "vocab_stats": 11,
    "zone_rules_daily_returns": 11, "zorder_values": 11,
    # latest driver row: round 12 (50 gates)
    "ab_test_conversion": 12, "benford_price_audit": 12,
    "bpe_pair_counts": 12, "chi2_source_lang": 12, "cohort_ltv_curve": 12,
    "concept_communities": 12, "copurchase_lift": 12,
    "corpus_pipeline_v4": 12, "dead_stock_audit": 12, "dsir_selection":
    12, "dup_family_histogram": 12, "embedding_norm_qa": 12,
    "event_seasonality": 12, "event_transitions": 12, "ewma_daily_events":
    12, "footer_table_stats": 12, "frequent_brand_triples": 12,
    "gini_order_values": 12, "hhi_supplier_concentration": 12,
    "hybrid_rank_fusion": 12, "kaplan_meier_retention": 12,
    "kcenter_coreset": 12, "kendall_tau_quantity_discount": 12,
    "knn_label_confusion": 12, "langid_confusion": 12, "lorenz_deciles":
    12, "lpa_communities": 12, "negative_table_draws": 12,
    "new_vs_returning_daily": 12, "orders_mutual_info": 12,
    "pareto_orders": 12, "prefiltered_revenue": 12, "product_type_profit":
    12, "promo_revenue_ratio": 12, "runs_test_daily_returns": 12,
    "skew_salted_agg": 12, "small_quantity_revenue": 12,
    "snapshot_diff_orders": 12, "terasort_validate": 12,
    "theil_u_source_lang": 12, "theta_user_overlap": 12,
    "token_budget_mix_weighted": 12, "top_supplier": 12,
    "ttr_curve_auc_tokens": 12, "volume_shipping": 12, "volume_trend": 12,
    "waiting_suppliers": 12, "weighted_sample_orders": 12,
    "winsorize_events": 12, "word_cooccurrence": 12,
    # latest driver row: round 13 (50 gates)
    "abc_inventory_classes": 13, "acf_daily_events": 13, "ann_ivf_recall":
    13, "ann_ivf_recall_curve": 13, "ann_rp_lsh_recall_curve": 13,
    "anova_acctbal_segments": 13, "binseg_daily_events": 13,
    "bootstrap_mean_totalprice": 13, "cdc_net_changes_users": 13,
    "cms_heavy_change": 13, "copurchase_eval_topk": 13,
    "copurchase_kcore": 13, "corpus_pipeline_v5": 13, "corpus_qa_panel":
    13, "cusum_split_events": 13, "debounce_events": 13,
    "dedup_survivorship": 13, "diversified_top_orders": 13,
    "doc_keywords": 13, "frequent_subsequences": 13, "gini_by_nation": 13,
    "greedy_gram_coverage": 13, "hits_trade_roles": 13,
    "interpolated_hourly_value": 13, "ivm_orders_yearly": 13,
    "k_anonymity_customers": 13, "ks_price_returnflag": 13,
    "ks_source_drift": 13, "linear_attribution": 13, "psi_price_drift":
    13, "purchase_attribution": 13, "qty_price_histogram2d": 13,
    "repeat_order_intervals": 13, "rfm_segments": 13, "rolling_wau": 13,
    "script_profile": 13, "session_path_topk": 13, "shipping_lead_time":
    13, "spearman_qty_price": 13, "term_dictionary": 13,
    "tfidf_cosine_topk": 13, "theil_sen_trend": 13,
    "tokenizer_fertility_lang": 13, "top_nations_with_other": 13,
    "trade_degree_assortativity": 13, "trade_triangles": 13,
    "trending_parts": 13, "user_behavior_entropy": 13, "vocab_richness":
    13, "weighted_median_price": 13,
    # latest driver row: round 14 (50 gates)
    "ab_power_priorities": 14, "ams_f2_custkey": 14, "auc_by_segment": 14,
    "auc_delong_orderstatus": 14, "bradley_terry_suppliers": 14,
    "brier_orderstatus": 14, "brown_forsythe_acctbal": 14,
    "calibration_orderstatus": 14, "ccf_click_purchase": 14,
    "cmh_segment_status": 14, "cochran_armitage_returns": 14,
    "cohort_retention_matrix": 14, "conformal_threshold_prices": 14,
    "corpus_pipeline_v6": 14, "cramers_v_segment_priority": 14,
    "cuped_purchases": 14, "dispersion_daily_events": 14,
    "ece_orderstatus": 14, "effect_sizes_returnflag": 14,
    "emd_price_returnflag": 14, "friedman_priority_volume": 14,
    "funnel_conversion": 14, "gains_orderstatus": 14,
    "hodges_lehmann_daily": 14, "logrank_cohorts": 14,
    "loo_priority_price": 14, "markov_entropy_rate": 14,
    "markov_next_event_eval": 14, "markov_stationary_events": 14,
    "mutual_nn_pairs": 14, "mwu_priority_price": 14,
    "nelson_aalen_hazard": 14, "ngram_novelty_curve": 14,
    "ols_qty_price_by_brand": 14, "pacf_daily_events": 14,
    "quantile_normalize_segments": 14, "ra_link_parts": 14,
    "rolling_zscore_daily": 14, "scd2_pit_join": 14, "sssp_trade_cost":
    14, "temperature_mix_langs": 14, "temporal_split_audit": 14,
    "theta_churn_new_users": 14, "trimmed_mean_price": 14,
    "unigram_seed_candidates": 14, "weekday_adjusted_anomaly": 14,
    "weighted_quantile_ladder": 14, "welch_acctbal_segments": 14,
    "wilson_conversion_bounds": 14, "wordpiece_pair_scores": 14,
    # latest driver row: round 15 (50 gates)
    "aalen_johansen_cif": 15, "agg_descriptors": 15, "ann_cosine_pairs":
    15, "ann_cosine_topk": 15, "ann_ivf_topk": 15, "ari_kmeans_labels":
    15, "asof_join": 15, "blocking_quality_mingram": 15, "char_entropy":
    15, "cochran_langid": 15, "corpus_pipeline_v7": 15,
    "corpus_pipeline_v8": 15, "cube_agg": 15, "dedup_watermark_audit": 15,
    "embedding_pc_outliers": 15, "embedding_top_pc": 15, "fd_source_lang":
    15, "feature_hash_profile": 15, "fellegi_sunter_customers": 15,
    "fieldsel": 15, "fleiss_langid": 15, "good_turing_tokens": 15,
    "host_cap_documents": 15, "info_gain_orders": 15,
    "isotonic_orderstatus": 15, "jonckheere_priority_price": 15,
    "kendall_events_daily": 15, "knn_ndcg_labels": 15,
    "kruskal_priority_price": 15, "langid_kappa": 15,
    "lin_ccc_order_value": 15, "mann_kendall_daily_events": 15,
    "neyman_allocation_orders": 15, "ordinal_assoc_weekday": 15,
    "page_trend_priority": 15, "position_attribution": 15,
    "pps_ess_priorities": 15, "rmst_retention": 15, "robust_scale_price":
    15, "roc_auc_orderstatus": 15, "rolling_origin_folds_events": 15,
    "seasonal_naive_events": 15, "simpson_segment_status": 15,
    "smd_balance_nations": 15, "t_closeness_customers": 15,
    "theil_decomposition_nations": 15, "theil_order_values": 15,
    "training_shard_manifest": 15, "url_dedup_documents": 15,
    "woe_price_returns": 15,
    # latest driver row: round 16 (50 gates)
    "bh_fdr_daily_returns": 16, "chunk_documents": 16,
    "contamination_check": 16, "corpus_pipeline": 16,
    "cusum_chart_daily_returns": 16, "dedup_clusters": 16, "dedup_exact":
    16, "dedup_minhash_lsh": 16, "dedup_ngram_jaccard": 16,
    "embedding_near_dup": 16, "fingerprint": 16, "gray_test_cohorts": 16,
    "grep_count": 16, "heaps_exponent_docs": 16, "heaps_vocab_growth": 16,
    "hilbert_values": 16, "interval_sample": 16, "join_anti": 16,
    "join_full_outer": 16, "join_inner_agg": 16, "join_multiway": 16,
    "join_override": 16, "join_semi": 16, "js_drift_sources": 16,
    "json_extract_agg": 16, "keyfield_sort": 16, "kmeans_embedding_cells":
    16, "kmeans_silhouette_cells": 16, "knn_map_labels": 16,
    "knn_mrr_labels": 16, "mcnemar_langid": 16, "minhash_estimate_audit":
    16, "mmr_rerank_embeddings": 16, "modularity_regions": 16,
    "monte_carlo_pi": 16, "p_chart_daily_returns": 16, "pivot_agg": 16,
    "pq_distortion_audit": 16, "pr_curve_orderstatus": 16,
    "rake_source_lang": 16, "rbo_stability_parts": 16,
    "readability_sources": 16, "set_except": 16, "sorted_group_apply": 16,
    "supplier_winrate_bounds": 16, "topk_stability_parts": 16,
    "trade_clustering": 16, "union_distinct": 16, "watermark_late_audit":
    16, "zipf_slope_tokens": 16,
}



def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that register queries.
    from hadoop_fcfs_spark import queries_agg  # noqa: F401
    from hadoop_fcfs_spark import queries_io  # noqa: F401
    from hadoop_fcfs_spark import queries_llm  # noqa: F401
    from hadoop_fcfs_spark import queries_relational  # noqa: F401
    from hadoop_fcfs_spark import queries_streaming  # noqa: F401

    # Standing ordering (see rotation policy above): (0) never-sampled
    # gates, explicitly ordered; (1) anything registered after the table
    # was built (new this round) in registration order; (2) confirmed
    # gates, oldest-latest-round first (re-validation rotation),
    # name-tiebroken.
    never_rank = {name: i for i, name in enumerate(_NEVER_SAMPLED)}
    reg_rank = {name: i for i, name in enumerate(_REGISTRY)}

    def bucket(spec: QuerySpec) -> tuple:
        if spec.name in never_rank:
            return (0, never_rank[spec.name], spec.name)
        if spec.name not in _DRIVER_CONFIRMED_ROUND:
            return (1, reg_rank[spec.name], spec.name)
        return (2, _DRIVER_CONFIRMED_ROUND[spec.name], spec.name)

    ordered = sorted(_REGISTRY.values(), key=bucket)
    return {s.name: s for s in ordered}
