#!/usr/bin/env python3
"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query is fully executed (collect for
small results, checksum-aggregate for large ones) after a warm-up
pass to amortize session/JIT startup out of q1's number.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cgtcalc_data_transformer_spark import registry  # noqa: E402
from cgtcalc_data_transformer_spark.session import get_spark  # noqa: E402

# name → materialization: "collect" for small results; "exec" for big
# ones — a bit_xor(xxhash64(struct(*))) checksum aggregate built ONCE
# per query and re-collected. count() is NOT used: Catalyst prunes
# unused projections under count, so a pure-projection query (e.g.
# text_quality) times an empty scan; the checksum forces every output
# column to be computed while returning one row (no driver transfer,
# no per-run plan re-analysis like a fresh .write would incur).
HEADLINE: dict[str, str] = {
    "q1_pricing_summary": "collect",
    "q3_shipping_priority": "collect",
    "q5_local_supplier": "collect",
    "q6_forecast_revenue": "collect",
    "q4_order_priority": "collect",
    "q10_returned_items": "collect",
    "q12_priority_class": "collect",
    "q14_promo_revenue": "collect",
    "q18_large_orders": "collect",
    "q2_min_cost_supplier": "collect",
    "q8_market_share": "collect",
    "q9_profit_nation_year": "collect",
    "q13_customer_distribution": "collect",
    "q17_small_qty_revenue": "collect",
    "q21_waiting_suppliers": "collect",
    "join_broadcast_geo": "collect",
    "join_salted": "collect",
    "agg_rollup": "collect",
    "window_topk": "exec",
    "window_range_frame": "exec",
    "topk_orders": "collect",
    # sink, not count/collect/exec: a count() (or the exec checksum)
    # lets Catalyst eliminate the final sort and times only the
    # formatting; a collect() spends ~2.7 s building 150k Python Row
    # objects — driver overhead, not engine throughput. Writing the
    # text sink is the reference's own semantics (data.txt rewrite,
    # index.js:121-122): format + sort + write, all JVM-side.
    "canonical_orders": "sink",
    "grouped_zscore": "exec",
    "dedup_exact": "exec",
    "dedup_minhash_lsh": "exec",
    "dedup_simhash": "exec",
    # dedup_clusters and kmeans_embeddings excluded: their iterative
    # loops run at plan-build time (driver loop over cached frames /
    # collected centroid matrices), so a steady-state re-execution of
    # the returned frame would under-report them.
    "knn_bruteforce": "collect",
    "ann_ivf": "collect",
    "ann_lsh": "collect",
    "emb_quantize": "exec",
    "emb_centroid_stats": "collect",
    "text_quality": "exec",
    "text_fingerprint": "exec",
    "text_tfidf": "exec",
    "text_normalize": "exec",
    "contamination_check": "exec",
    "mix_sources": "collect",
    "boilerplate_score": "exec",
    "events_tumbling": "exec",
    "events_session": "exec",
    "asof_join": "exec",
    "events_funnel": "collect",
    "events_resample_daily": "exec",
    "cdc_latest": "exec",
    "scd2_intervals": "exec",
    "dedup_incremental": "exec",
    "dq_checks": "collect",
    "zorder_layout": "collect",
    # round-3 additions
    "doc_similarity_tfidf": "collect",
    "pagerank_suppliers": "collect",
    "partition_pruning": "collect",
    "compact_orders": "collect",
    "text_perplexity_bigram": "exec",
    "vocab_topk": "collect",
    "curate_corpus": "exec",
    "multimodal_decode": "exec",
    "frame_sample": "exec",
    "text_hashing_tf": "exec",
    "cms_heavy_hitters": "collect",
    "text_search_and": "collect",
    "ivm_refresh_revenue": "collect",
    "split_assign": "collect",
    "text_repetition": "exec",
    "length_outliers": "collect",
    "events_user_sequences": "exec",
    "events_transition_matrix": "collect",
    "merge_upsert": "exec",
    "histogram_equidepth": "collect",
    "record_linkage": "exec",
    "erasure_propagate": "collect",
    "bm25_rank": "collect",
    "dynamic_partition_pruning": "collect",
    "interval_join_binned": "exec",
    "hll_segment_union": "collect",
    "triangle_count_parts": "collect",
    "bloom_filter_pruned_join": "collect",
    "events_top_paths": "collect",
    "cogroup_reconcile": "exec",
    "join_shuffle_hash_hint": "collect",
    "events_rate_anomaly": "exec",
    "source_divergence": "collect",
    "split_leakage_check": "collect",
    "temperature_resample": "collect",
    "xml_roundtrip": "collect",
    "events_variant": "collect",
    "events_attribution_outer": "exec",
    "jsonl_roundtrip": "collect",
    "cap_per_source": "collect",
    "kmv_distinct": "collect",
    "collated_group": "collect",
    "events_type_totals": "collect",
    "dynamic_partition_overwrite": "collect",
    "contrastive_negatives": "collect",
    "ticker_totals": "collect",
    "kmv_intersection": "collect",
    "linkage_sorted_neighborhood": "collect",
    "segment_dedup": "collect",
    "events_rate_anomaly_robust": "collect",
    "snapshot_diff": "collect",
    "events_trending_decay": "collect",
    "events_rfm_segments": "collect",
    # round-4 additions: the rest of the registry's data-scale queries
    "multimodal_features": "exec",
    "agg_approx": "collect",
    "orc_roundtrip": "collect",
    "events_retention": "collect",
    "sample_weighted": "collect",
    "schema_evolution": "collect",
    "join_bucketed": "collect",
    "sample_stratified": "exec",
    "profile_orders": "collect",
    "sample_per_group": "collect",
    "histogram_prices": "collect",
    "dedup_embedding_cosine": "collect",
    "emb_normalize": "exec",
    "text_token_stats": "exec",
    "text_langid": "exec",
    "text_rolling_hash": "exec",
    "text_chunks": "exec",
    "pii_redact": "exec",
    "pack_batches": "exec",
    "events_sliding": "exec",
    "events_json": "collect",
    "multimodal_metadata": "collect",
    "multimodal_resize": "exec",
    "events_attribution": "collect",
    # exec, not collect: the query returns EVERY enriched event (1M
    # rows at sf1) — collect timed driver materialization, which is
    # what made it the sweep's 7.0x row (tools/scaling_notes_r14.md)
    "events_static_enrich": "exec",
    "q7_volume_shipping": "collect",
    "q15_top_supplier": "collect",
    "q19_discounted_revenue": "collect",
    "q22_dormant_value": "collect",
    "sql_frontend_q13": "collect",
    "q11_important_value": "exec",
    "q16_supplier_count": "exec",
    "q20_excess_shippers": "collect",
    "join_full_outer": "collect",
    "join_semi": "exec",
    "join_anti": "exec",
    "agg_distinct": "collect",
    "agg_cube": "collect",
    "agg_grouping_sets": "collect",
    "agg_stats": "collect",
    "window_running_total": "exec",
    "window_lag_gap": "exec",
    "setop_intersect": "exec",
    "setop_except": "exec",
    "pivot_status": "collect",
    "unpivot_status": "collect",
    "range_join_bands": "collect",
    "window_ntile": "exec",
    "subquery_scalar": "exec",
    "dsir_importance_resample": "collect",
    "pareto_frontier": "collect",
    "events_multitouch_attribution": "exec",
    "retrieval_recall_audit": "collect",
    "training_order_shuffle": "exec",
    "rank_eval_bm25": "collect",
    "collocations_pmi": "collect",
    "quality_fair_select": "exec",
    "simjoin_prefix": "collect",
    "exact_median_2pass": "collect",
    "events_session_stats": "collect",
    "frequent_pairs": "collect",
    "drift_ks_binned": "collect",
    "golden_record": "collect",
    "weighted_sample_wor": "collect",
    "kfold_assign": "collect",
    # round-6 additions
    "substring_dedup": "collect",
    "rrf_fusion": "collect",
    "contamination_minhash": "collect",
    "drift_psi": "collect",
    "gopher_quality_flags": "collect",
    "char_entropy": "exec",
    "ppl_bucket_ccnet": "collect",
    "domain_stats": "collect",
    "group_split_assign": "collect",
    "temporal_holdout_split": "collect",
    "winnow_fingerprints": "exec",
    "zipf_tail_alpha": "collect",
    "knn_label_audit": "collect",
    "chi2_label_shift": "collect",
    "heaps_vocab_growth": "collect",
    "ngram_novelty": "collect",
    "ab_test_ztest": "collect",
    "woe_iv_binning": "collect",
    "source_overlap_jaccard": "collect",
    "gini_concentration": "collect",
    "corr_matrix_lineitem": "collect",
    "seasonality_profile": "collect",
    "ece_calibration": "collect",
    "interarrival_burstiness": "collect",
    "transition_entropy": "collect",
    "semdedup_embedding": "collect",
    "cusum_changepoint": "collect",
    "bootstrap_ci_mean": "collect",
    "k_anonymity_audit": "collect",
    "key_skew_profile": "collect",
    "langid_ngram_confusion": "collect",
    "ols_regression": "collect",
    "retention_curve_fit": "collect",
    "benfords_law_audit": "collect",
    "kaplan_meier_churn": "collect",
    "hhi_concentration": "collect",
    # round-7 additions
    "mannwhitney_u_test": "collect",
    "spearman_rank_corr": "collect",
    "kendall_tau_binned": "collect",
    "anova_f_oneway": "collect",
    "cramers_v_matrix": "collect",
    "mutual_information_binned": "collect",
    "simpson_paradox_audit": "collect",
    "mad_outliers": "collect",
    "trimmed_mean_robust": "collect",
    "acf_daily_counts": "collect",
    "ewma_control_chart": "collect",
    "theil_sen_trend": "collect",
    "bh_fdr_control": "collect",
    "nelson_aalen_hazard": "collect",
    "kneser_ney_bigram": "collect",
    "good_turing_mass": "collect",
    "chao1_vocab_richness": "collect",
    "vocab_coverage_curve": "collect",
    "readability_flesch": "collect",
    "hits_hubs_authorities": "exec",
    "adamic_adar_links": "exec",
    "assoc_rules_confidence": "exec",
    "brier_decomposition": "collect",
    "cohens_kappa_flags": "collect",
    "lognormal_fit_doclen": "collect",
    "jackknife_variance": "collect",
    "extreme_value_fit": "collect",
    "page_hinkley_drift": "collect",
    "capture_recapture": "collect",
    "mcnemar_test": "collect",
    "last_digit_uniformity": "collect",
    "gains_curve_calibration": "collect",
    "kruskal_wallis_test": "collect",
    "moods_median_test": "collect",
    "effect_size_panel": "collect",
    "runs_test_randomness": "collect",
    "poisson_dispersion_test": "collect",
    "auc_roc_centroid": "collect",
    "durbin_watson_stat": "collect",
    "variance_ratio_test": "collect",
    "ols_leverage_audit": "collect",
    "hash_uniformity_audit": "collect",
    "cochran_armitage_trend": "collect",
    # round-8 classical tests (stats8)
    "welch_t_test": "collect",
    "levene_test": "collect",
    "bartlett_test": "collect",
    "jarque_bera": "collect",
    "hodges_lehmann_shift": "collect",
    "sign_test": "collect",
    "wilcoxon_signed_rank": "collect",
    "friedman_test": "collect",
    "cronbach_alpha": "collect",
    "grubbs_max_outlier": "collect",
    "partial_correlation": "collect",
    "kendalls_w": "collect",
    # round-8 profiling/discovery
    "fk_containment_audit": "collect",
    "fd_audit": "collect",
    "join_cardinality_audit": "collect",
    "candidate_key_audit": "collect",
    # round-8 sketches + time-series
    "ams_f2_sketch": "collect",
    "linear_counting_audit": "collect",
    "ljung_box_test": "collect",
    "periodogram_fixed": "collect",
    "seasonal_decompose_ma": "collect",
    "ccf_lagged": "collect",
    # round-8 corpus/embedding/graph/inequality
    "monroe_log_odds": "collect",
    "word_burstiness": "collect",
    "dedup_levenshtein": "collect",
    "shuffle_run_audit": "collect",
    "jl_projection_audit": "collect",
    "degree_assortativity": "collect",
    "theil_index": "collect",
    "pacf_daily_counts": "collect",
    "mann_kendall_trend": "collect",
    "changepoint_split": "collect",
    "target_encode_oof": "collect",
    "collocations_llr": "collect",
    "harmonic_centrality_nations": "collect",
    "tukey_hsd": "collect",
    "ks_test_quantity": "collect",
    "cochran_q_test": "collect",
    "power_analysis_quantity": "collect",
    "fleiss_kappa": "collect",
    "g_test_independence": "collect",
    "revenue_var_es": "collect",
    "source_diversity_indices": "collect",
    "modularity_regions": "collect",
    "qq_deciles": "collect",
    "odds_ratio_ci": "collect",
    # round-10 ordered/robust rank tests + nominal association (stats9)
    "jonckheere_terpstra": "collect",
    "brunner_munzel": "collect",
    "mantel_haenszel_or": "collect",
    "cuped_adjustment": "collect",
    "cramers_v_segment_nation": "collect",
    "mutual_information_nominal": "collect",
    "goodman_kruskal_lambda": "collect",
    "bowker_symmetry": "collect",
    "adjusted_rand_index": "collect",
    "isotonic_calibration": "collect",
    "label_propagation": "collect",
    "prefixspan_topk": "collect",
    "forecast_error_audit": "collect",
    "quantile_sketch_audit": "collect",
    "energy_distance_test": "collect",
    "cramer_von_mises": "collect",
    "transitivity_parts": "collect",
    "hampel_filter_daily": "collect",
    "platt_scaling": "collect",
    "bloom_fpr_audit": "collect",
    "logrank_test": "collect",
    "chow_test": "collect",
    "dunn_posthoc_test": "collect",
    "spectral_entropy_daily": "collect",
    "weighted_kappa_transitions": "collect",
    "anderson_darling_2sample": "collect",
    # round-11: PQ training (2 bounded collects) runs at plan-build
    # like platt's bin collect; what re-executes — and what this rows
    # times — is the production query path: encode + LUT equality
    # join + per-query top-k (resp. + the exact-baseline audit join).
    "pq_ann": "collect",
    "pq_recall_audit": "collect",
    "pq_m_sweep": "collect",
    # round-14 batch
    "cusum_drift_detector": "collect",
    "kendall_tau_daily": "collect",
    "wilcoxon_signed_rank_daily": "collect",
    "lorenz_curve_tokens": "collect",
    "ngram_novelty_score": "exec",
    "minhash_estimate_audit": "exec",
    "dup_cluster_size_histogram": "collect",
    "weighted_sample_per_group": "collect",
    "simjoin_prefix_summary": "collect",
    # round-11 stats/graph/corpus panel — all bounded-row results
    "wasserstein_quantity": "collect",
    "distribution_distance_panel": "collect",
    "ansari_bradley_test": "collect",
    "ordinal_association_panel": "collect",
    "atkinson_index": "collect",
    "l_diversity_audit": "collect",
    "t_closeness_audit": "collect",
    "hurst_rescaled_range": "collect",
    "weibull_survival_fit": "collect",
    "sprt_sequential_audit": "collect",
    "holm_bonferroni_panel": "collect",
    "fisher_combined_meta": "collect",
    "jaccard_link_prediction": "exec",
    "local_clustering_topk": "collect",
    "stupid_backoff_score": "collect",
    "negbin_overdispersion_fit": "collect",
    "kpss_stationarity": "collect",
    "granger_causality_daily": "collect",
    "frequent_triples": "collect",
    "classifier_quality_panel": "collect",
    "silhouette_labels_audit": "collect",
    "quantile_shift_panel": "collect",
    # round-12 additions
    "ivfpq_ann": "collect",
    "ivfpq_recall_audit": "collect",
    "emb_quantize_recall": "collect",
    "ivfpq_partitioned_probe": "collect",
    "ab_srm_check": "collect",
    "white_test_daily": "collect",
    "newey_west_trend": "collect",
    "hill_tail_index": "collect",
    "mondrian_conformal_audit": "collect",
    "fairness_selection_audit": "collect",
    # round-13 additions
    "ivfpq_nprobe_sweep": "collect",
    "permutation_test_revenue": "collect",
    "spiegelhalter_z_calibration": "collect",
    "confident_learning_noise_audit": "collect",
    "tokenizer_fertility_audit": "collect",
    "theil_u_forecast": "collect",
    "seasonal_mann_kendall": "collect",
    "engle_granger_cointegration": "collect",
    "fellegi_sunter_em": "collect",
    # containment_dedup excluded alongside dedup_ngram_jaccard: both are
    # the exact quadratic calibration ground truth for the LSH path (9s+
    # at sf0.1 by design); benching them would time a deliberately
    # unscaled shape.
    # emb_pca_power excluded alongside kmeans/dedup_clusters: the
    # covariance collect + power iteration run at plan-build time.
}

# Registry queries deliberately NOT benched, by reason — named here so
# the bench artifact never reads as silent truncation:
EXCLUDED = {
    "fixture_scale": [
        "parse_freetrade", "parse_ii", "parse_fidelity",
        "parse_bullionvault", "parse_bullionvault_pyds", "csv_quarantine",
    ],
    "streaming_engine_runs (trigger mechanics dominate wall time)": [
        "streaming_tumbling", "streaming_sliding", "streaming_session",
        "streaming_stateful", "streaming_dedup", "streaming_join",
        "streaming_static_enrich", "streaming_join_outer",
        "streaming_complete_totals", "streaming_python_source",
        "streaming_stateful_rocksdb",
    ],
    "plan_build_time_iteration": [
        "kmeans_embeddings", "dedup_clusters", "emb_pca_power",
        "kcore_parts", "bpe_learn_merges", "bfs_reach", "bpe_apply",
        "markov_stationary_dist", "logistic_regression_irls",
        "entropy_rate_markov",
    ],
    "quadratic_calibration_ground_truth": [
        "dedup_ngram_jaccard", "containment_dedup", "dedup_lsh_quality",
    ],
    "dedicated_skew_section": [
        "skew_join_plain", "skew_join_salted", "skew_join_salted_partial",
    ],
}


# The ONLY payload keys the compact stdout line may carry. Everything
# else (cold_first_run, excluded, methodology, any future fat map)
# stays in BENCH_DETAIL.json. BENCH_r07 arrived parsed:null because
# the old blacklist ("drop 'excluded'") let the 245-entry
# cold_first_run map ride the line past the driver's 2000-char tail
# window even at the keep=0 floor — a whitelist can't regress that
# way when main() grows a field (VERDICT r7 item 1).
_COMPACT_KEYS = (
    "metric", "value", "unit", "sf", "skew_join", "calibrators",
    "host_factor", "host_factor_band",
)

# Host-speed calibrators (VERDICT r11 item 2): three pinned queries
# whose CODE IS FROZEN — any future edit to their operators must pick
# new pins — run FIRST in every bench session with the same min-of-3
# fresh-plan methodology. Their sf0.1 times in the frozen
# BENCH_BASELINE.json divide the measured times into a host_factor
# (geometric mean), making cross-round deltas self-adjudicating:
# three consecutive rounds burned manual isolated re-measures telling
# host drift from code cost (tools/scaling_notes_r10/r11.md). The
# trio spans the stack: scan+agg (q1), shuffle-join chain (minhash
# LSH), expression-heavy sketch (CMS).
# Pins rotated with BENCH_BASELINE at r13 (VERDICT r12 item 4): the
# baseline is now the r13 quiet-host run on THIS host generation
# (tools/scaling_notes_r13.md: the previous generation executed
# expression-heavy codegen ~2x faster relative to scans, so the trio
# deliberately spans the classes and the start/mid/end band shows the
# spread). Values are the baseline session's HEADLINE-loop readings
# (deep-session steady state), matching the per-mode methodology.
# r14 pin rotation: the shuffle-class calibrator was
# dedup_minhash_lsh, whose verify path (_pair_overlap) was rewritten
# in r14 — a frozen pin over changed code would bias host_factor, so
# the slot moved to q18_large_orders (join+groupBy chain, code
# untouched since the baseline run; value = the baseline session's
# headline reading).
CALIBRATORS = {
    "q1_pricing_summary": 0.871,
    "q18_large_orders": 0.679,
    "cms_heavy_hitters": 1.216,
}

# Workload class each calibrator represents (VERDICT r13 item 2: host
# drift is class-shaped — scan ~1.0x vs expression ~2.1x across VM
# generations — so the regression contract normalizes each query by
# ITS class's calibrator factor, not the scalar geomean). Per-query
# classes are assigned empirically from cross-generation drift by
# tools/assign_query_classes.py into bench_query_classes.json.
CALIBRATOR_CLASS = {
    "q1_pricing_summary": "scan",
    "q18_large_orders": "shuffle",
    "cms_heavy_hitters": "expression",
}


def load_query_classes() -> dict[str, str]:
    """Committed per-query class map (empty if not generated)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_query_classes.json")
    try:
        with open(path) as fh:
            return json.load(fh)["classes"]
    except Exception:  # noqa: BLE001 — classes are an overlay
        return {}

# Operators whose heavy work (iterative training collects, index
# builds, partitioned-layout writes) runs at PLAN-BUILD time, so the
# timed collect covers only the serving path. Named in the payload so
# their small headline numbers are never read as the operator's total
# cost (ADVICE r12 on ivfpq_partitioned_probe).
BUILD_TIME_NOTES = {
    "ivfpq_partitioned_probe": (
        "Lloyd training collects + the cell-partitioned parquet write "
        "run at plan-build; the timed collect covers the pruned probe "
        "scan + ADC join only (the per-query serving cost)."
    ),
    "ivfpq_ann": (
        "codebook/centroid training collects run at plan-build; the "
        "timed collect covers encode + LUT join + top-k (the serving "
        "path)."
    ),
    "ivfpq_recall_audit": (
        "training at plan-build; timed collect = probe + exact-baseline "
        "audit join."
    ),
    "pq_ann": "PQ training collects at plan-build; timed = serving path.",
    "pq_recall_audit": (
        "PQ training collects at plan-build; timed = serving + audit."
    ),
    "pq_m_sweep": (
        "three per-m Lloyd trainings collect at plan-build; timed = "
        "the three encode+ADC scans + shared exact baseline + rollup."
    ),
    "platt_scaling": "bin-stats collect at plan-build.",
    "ivfpq_nprobe_sweep": (
        "residual-codebook training collects at plan-build; timed = "
        "the shared depth-8 ADC scan + 4-point recall rollup."
    ),
    "fellegi_sunter_em": (
        "EM runs on the collected <=8 pattern counts at plan-build; "
        "timed = pair generation + pattern aggregation + literal-"
        "param posterior projection."
    ),
    "tokenizer_fertility_audit": (
        "BPE merge learning (the _learn_bpe_rules top-1 collects) "
        "runs at plan-build (r14: fertility now measures the learned "
        "tokenizer); timed = the word-stream merge application + "
        "per-language rollup."
    ),
}


def _run_calibrators(spark, qs, sf_dir: str) -> dict[str, float]:
    """One calibrator pass: the code-frozen trio, min-of-3 fresh-plan
    executions each (identical methodology to the headline loop).
    Called at session START (host_factor), MIDDLE and END (drift band)
    — a single start-of-session factor could not represent the 3.1x
    intra-session spread the r12 driver session measured (VERDICT r12
    item 2)."""
    from pyspark.sql import functions as F

    readings: dict[str, float] = {}
    for cal_name in CALIBRATORS:
        try:
            cal_mode = HEADLINE[cal_name]

            def cal_build() -> object:
                df = qs[cal_name](spark, sf_dir)
                if cal_mode == "exec":
                    df = df.select(
                        F.bit_xor(
                            F.xxhash64(F.struct(*df.columns))
                        ).alias("checksum")
                    )
                return df

            # clearCache before EVERY calibrator sample (r15 policy):
            # the cache-class calibrator (mad_outliers) materializes
            # in-query caches, so each sample must include that
            # materialization for measured/pin to be apples-to-apples
            # with its cold-run pin; for the non-caching trio this is
            # a no-op.
            spark.catalog.clearCache()
            cal_build().collect()  # warm run (JIT/codegen/page cache)
            samples = []
            for _ in range(3):
                spark.catalog.clearCache()
                df = cal_build()
                t0 = time.time()
                df.collect()
                samples.append(time.time() - t0)
            readings[cal_name] = round(min(samples), 3)
        except Exception as exc:  # noqa: BLE001 — calibration is best-effort
            print(f"bench: calibrator {cal_name} FAILED: {exc}", file=sys.stderr)
    return readings


def _cal_factor(readings: dict[str, float]) -> float | None:
    """Geometric-mean measured/baseline over a complete trio reading."""
    if len(readings) != len(CALIBRATORS):
        return None
    import math

    return round(
        math.exp(
            sum(
                math.log(readings[n] / CALIBRATORS[n]) for n in CALIBRATORS
            )
            / len(CALIBRATORS)
        ),
        3,
    )


def compact_line(payload: dict, timings: dict[str, float]) -> str:
    """ONE stdout line pruned until it fits the driver's 2000-char
    tail window: slowest queries first, the rest summarized by count
    so nothing reads as silently dropped. The floor (0 queries shown)
    is a minimal summary line that always fits, so the return is
    bound on every path (ADVICE r4; floor pinned by
    tests/test_bench_contract.py as the registry passes 200 queries).
    Keys are WHITELISTED — see _COMPACT_KEYS.
    """
    compact = {k: payload[k] for k in _COMPACT_KEYS if k in payload}
    ranked = sorted(timings, key=timings.get, reverse=True)
    compact["n_queries"] = len(timings)
    # crash-isolated failures surface on the line by count (names in
    # BENCH_DETAIL.json) — a partial battery must not read as complete
    compact["n_errors"] = len(payload.get("errors") or {})
    compact["detail"] = "BENCH_DETAIL.json"
    line = ""
    for keep in list(range(len(ranked), 0, -5)) + [0]:
        compact["queries"] = {n: timings[n] for n in ranked[:keep]}
        compact["queries_shown"] = keep
        line = json.dumps(compact)
        if len(line) <= 1800:
            break
    return line


def build_payload(timings: dict[str, float], skew: dict[str, float],
                  sf, cold: dict[str, float],
                  errors: dict[str, str] | None = None,
                  calibrators: dict[str, float] | None = None,
                  host_factor: float | None = None,
                  calibrator_drift: dict | None = None,
                  cache_fronted: list[str] | None = None) -> dict:
    """The full bench payload — written verbatim to BENCH_DETAIL.json.
    Kept as a named constructor so tests/test_bench_contract.py feeds
    compact_line() the REAL shape instead of a hand-kept mirror (the
    stale-mirror failure mode that let BENCH_r07 ship unparseable).
    """
    band = None
    if calibrator_drift:
        factors = [
            f for f in (
                _cal_factor(calibrator_drift.get(phase) or {})
                for phase in ("start", "mid", "end")
            )
            if f is not None
        ]
        if factors:
            band = [min(factors), max(factors)]
    return {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "skew_join": skew,
        "calibrators": calibrators or {},
        # measured/baseline geometric mean over the calibrator trio at
        # sf0.1 (None elsewhere: the pins are sf0.1 numbers). >1 =
        # this session's host is SLOWER than the baseline session's;
        # divide headline ratios by it before calling a mover real.
        "host_factor": host_factor,
        # start/mid/end trio readings + the min/max factor band — a
        # mover should be adjudicated against the NEAREST reading, not
        # the session-start geomean (VERDICT r12 item 2).
        "calibrator_drift": calibrator_drift or {},
        "host_factor_band": band,
        # per-CLASS host factors (VERDICT r13 item 2): measured /
        # pinned-baseline per calibrator, keyed by its workload class.
        # The regression contract divides each query by ITS class's
        # factor (query_class below; scalar host_factor is the
        # fallback for unassigned queries) so a scan-class regression
        # can't hide behind an expression-class-inflated geomean.
        "host_factor_by_class": (
            {
                CALIBRATOR_CLASS[c]: round(t / CALIBRATORS[c], 3)
                for c, t in (calibrators or {}).items()
                if c in CALIBRATOR_CLASS and CALIBRATORS.get(c)
            }
            if host_factor is not None
            else {}
        ),
        "query_class": load_query_classes(),
        # queries whose min-of-3 reran against a CacheManager-served
        # InMemoryTableScan (fresh plans match the cached logical
        # plan): their honest first-ever cost is cold_first_run, and
        # the regression contract compares cold for them (VERDICT r12
        # item 7). Detected from the physical plan, not a hand list.
        "cache_fronted": sorted(cache_fronted or []),
        "sf": sf,
        "methodology": "min-of-3 fresh-plan full executions "
        "(r1/r2 re-collected memoized plans; 10-20x under-reported); "
        "spark.catalog.clearCache() before every query's cold run "
        "(r15: no cross-query cache freeloading; numbers before r15 "
        "were measured without it) and before every calibrator "
        "sample; cold_first_run = first execution incl. cache "
        "materialization; cache_fronted queries' min3 is served by "
        "their OWN warm-run caches — read cold for their total cost; "
        "build_time_notes ops do training/index builds at plan-build, "
        "so their timing is the serving path",
        "build_time_notes": BUILD_TIME_NOTES,
        "cold_first_run": cold,
        "errors": errors or {},
        "excluded": EXCLUDED,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")
    qs = registry.queries()

    # warm-up: JVM/codegen/page caches. Parquet count() reads footers
    # only, so force a real column scan per base table (min over every
    # column) — cold-read + first-JIT cost is a local[N] artifact;
    # a warm cluster reads through the OS page cache.
    from pyspark.sql import functions as F  # noqa: E402

    from cgtcalc_data_transformer_spark.sources.tpch import load_table

    try:
        for t in ("lineitem", "orders", "customer", "documents",
                  "embeddings", "events"):
            df = load_table(spark, sf_dir, t)
            df.agg(*[F.min(c) for c in df.columns]).collect()
        qs["topk_orders"](spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001 — warm-up is best-effort
        print(f"bench: warm-up FAILED: {exc}", file=sys.stderr)

    # Per-query methodology: one warm run absorbs JIT/codegen/page-
    # cache, then the MIN of 3 FRESH-PLAN executions is reported.
    # Fresh plan per run, NOT a re-collect of the same DataFrame:
    # AdaptiveSparkPlanExec memoizes its result RDD, so re-collecting
    # reuses every shuffle's map output and times only the final
    # stage (measured 10-20x under-report on shuffle-heavy queries).
    # ---- calibrators (VERDICT r11 item 2 / r12 item 2): the code-
    # frozen trio timed with the IDENTICAL methodology at session
    # START (host_factor), then again at the MIDDLE and END of the
    # headline loop (drift band) — one start-of-session factor cannot
    # represent multi-x intra-session host-speed swings. Raw seconds
    # always recorded; host_factor (vs the frozen sf0.1 baselines)
    # only where the baselines apply.
    calibrators = _run_calibrators(spark, qs, sf_dir)
    drift: dict[str, dict[str, float]] = {"start": calibrators}

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    cache_fronted: list[str] = []
    midpoint = len(HEADLINE) // 2
    for qi, (name, mode) in enumerate(HEADLINE.items()):
        if qi == midpoint:
            drift["mid"] = _run_calibrators(spark, qs, sf_dir)

        def build() -> object:
            df = qs[name](spark, sf_dir)
            if mode == "exec":
                # checksum forces every output column without driver
                # transfer; built fresh so nothing is memoized
                df = df.select(
                    F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum")
                )
            return df

        sink_dir = os.path.join(tempfile.gettempdir(), f"bench_sink_{os.getpid()}")

        def run(df: object) -> None:
            if mode == "sink":
                df.write.mode("overwrite").text(sink_dir)
            else:
                df.collect()

        # Crash isolation (VERDICT r8 item 1): one query hitting an
        # environment defect (stale warehouse dir, bad parquet, OOM on
        # a single plan) must record an err entry and move on — a
        # partial artifact beats BENCH_r08's rc=1/parsed:null, where a
        # single LOCATION_ALREADY_EXISTS zeroed the whole battery.
        try:
            # Cache-honest battery (VERDICT r14 item 1): drop every
            # cached frame left by the PREVIOUS query before this
            # query's first (cold) run. Without this, lineage-sharing
            # neighbors freeload on resident caches (measured ~3x both
            # directions in r14: contamination_minhash ~3 s in-battery
            # vs ~9-14 s isolated; simjoin_prefix the reverse via
            # eviction contention), and 100/370 headline rows were
            # CacheManager-served. A query's OWN warm-run caches still
            # serve its min-of-3 (unchanged semantics — such queries
            # are flagged cache_fronted and the regression contract
            # compares their cold runs). BENCH_BASELINE.json was NOT
            # re-pinned under this policy: its cold runs were frozen
            # at r13 without clearCache(), so the regression contract
            # compares cleared-cache cold runs against uncleared ones.
            spark.catalog.clearCache()
            # The warm-up run is also the COLD number: for operators
            # that .cache() (semdedup, the iterative graph family,
            # _doc_ppl consumers) the min-of-3 below reruns against a
            # warm cache, which under-states a first-ever execution
            # (semdedup: ~1.7 s warm vs ~8 s cold at sf0.1). Recording
            # the first run per query keeps the methodology honest
            # without changing the round-over-round comparable
            # headline (VERDICT r6 item 5).
            t0 = time.time()
            run(build())
            cold[name] = round(time.time() - t0, 3)
            # cache-fronted detection: if a FRESH plan built after the
            # warm run resolves to an InMemoryTableScan, the min-of-3
            # below is served by the CacheManager (the .cache() sites
            # match by logical plan across builds) and understates a
            # first-ever execution — name it in the payload and let
            # the regression contract compare cold for it.
            try:
                plan = build()._jdf.queryExecution().executedPlan().toString()
                if "InMemoryTableScan" in plan:
                    cache_fronted.append(name)
            except Exception:  # noqa: BLE001 — detection is best-effort
                pass
            samples = []
            for _ in range(3):
                df = build()
                t0 = time.time()
                run(df)
                samples.append(time.time() - t0)
            # MIN of 3, not median: the box is a shared-host VM and
            # noisy-neighbor windows lasting minutes poison every
            # sample of a query that runs inside them (observed 0.8 s
            # queries reading 30 s). Min estimates the contention-free
            # execution; within a quiet window min and median agree to
            # a few percent.
            timings[name] = round(min(samples), 3)
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    drift["end"] = _run_calibrators(spark, qs, sf_dir)

    # ---- skew-join comparison (VERDICT r1 #5): same pathological
    # key distribution (60% of the fact side on one key), three
    # strategies. Auto-broadcast is disabled for all three — at real
    # scale neither side fits an executor — and AQE's skew split is
    # force-enabled only for the aqe variant (its default 256 MB
    # partition threshold never fires at local SFs, so it's tuned
    # down to demonstrate the runtime re-plan).
    from cgtcalc_data_transformer_spark.operators import relational_ext as rx

    skew: dict[str, float] = {}
    conf = spark.conf
    prev_thresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for label, skew_split, fn in [
            ("plain", False, rx.skew_join_plain),
            ("aqe_split", True, rx.skew_join_plain),
            ("salted", False, rx.skew_join_salted),
            ("salted_partial", False, rx.skew_join_salted_partial),
        ]:
            conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_split).lower())
            conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "1m" if skew_split else "256m",
            )
            conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "1m" if skew_split else "64m",
            )
            # Unlike the headline loop, the JOIN SHUFFLE is the thing
            # under test here — re-collecting the same DataFrame would
            # reuse its shuffle files and skip the map stages entirely.
            # Warm JIT/caches on one instance, then time a FRESH plan
            # (identical Catalyst overhead for all three variants).
            try:
                fn(spark, sf_dir).collect()
                df = fn(spark, sf_dir)
                t0 = time.time()
                df.collect()
                skew[f"skew_{label}"] = round(time.time() - t0, 3)
            except Exception as exc:  # noqa: BLE001
                errors[f"skew_{label}"] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"bench: skew_{label} FAILED", file=sys.stderr)
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # r1/r2 re-collected the SAME DataFrame, which reuses the
    # AQE-memoized result RDD and every shuffle's map output — a
    # measured 10-20x under-report on anything shuffle- or compute-
    # bound. From r3 on, each sample is a FRESH plan fully executed;
    # numbers are not comparable across that boundary.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # host_factor: geometric mean of measured/baseline over the START
    # trio (session-entry speed; the drift band brackets the rest) —
    # only meaningful at sf0.1, where the pinned baselines were taken.
    host_factor = _cal_factor(calibrators) if sf_val == 0.1 else None
    payload = build_payload(
        timings, skew, sf_val,
        cold, errors, calibrators, host_factor,
        calibrator_drift=drift if sf_val == 0.1 else None,
        cache_fronted=cache_fronted,
    )
    # Full per-query detail goes to a FILE: the driver records only
    # the last 2000 chars of stdout, and the full 95-query JSON line
    # is longer than that window, so a single fat line arrives with
    # its head cut off and parses as nothing (BENCH_r03 lesson).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(compact_line(payload, timings))
    spark.stop()


if __name__ == "__main__":
    main()
