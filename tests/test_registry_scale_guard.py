"""Registry-wide scale guard: no physical plan in the WHOLE query
registry may contain the shapes that stop scaling — a Cartesian
product, a broadcast nested loop join against an unbounded side, or a
Window with an empty partition spec (all rows through one task).

This is the mechanical generalization of the per-query plan tests in
test_plans.py: every future registry entry is checked the moment it's
added, instead of when a verdict catches it.
"""

from __future__ import annotations

import re

import pytest

from cgtcalc_data_transformer_spark import registry
from cgtcalc_data_transformer_spark.plans import formatted_plan

SF = "/root/testdata/sf0.001"

# streaming entries build unbounded plans (exercised by the streaming
# tests); iterative drivers run collect() loops at build time and are
# plan-checked by their own tests
SKIP = {
    "streaming_tumbling",
    "streaming_sliding",
    "streaming_session",
    "streaming_stateful",
    "streaming_dedup",
    "streaming_join",
    "streaming_static_enrich",
    "streaming_join_outer",
    "streaming_complete_totals",
    "streaming_python_source",
}

# BroadcastNestedLoopJoin is legitimate ONLY when the broadcast side is
# BOUNDED by construction — a 1-row scalar aggregate, a literal band
# table, or a fixed-size query set. Audited 2026-08 (regenerate the audit artifact with tools/dump_plans.py):
BNLJ_OK = {
    "histogram_prices",   # 1-row (min,max) bounds aggregate crossJoin
    "knn_bruteforce",     # N_QUERIES=8 query vectors, broadcast, != cond
    "events_funnel",      # 1-row step-count scalar
    "dq_checks",          # 1-row expectation-summary scalar
    "q22_dormant_value",  # 1-row avg-balance scalar subquery
    "q11_important_value",  # 1-row total-value scalar subquery
    "range_join_bands",   # literal price-band table, range condition
    "length_outliers",    # 1-row (p01,p99) quantile-bounds aggregate crossJoin
    "histogram_equidepth",  # 1-row quantile-boundary-array aggregate crossJoin
    "sample_weighted",    # 1-row total-weight scalar aggregate crossJoin
    "bm25_rank",          # 1-row corpus-stats (N, sumdl, df) aggregate crossJoin
    "hll_segment_union",  # 1-row global exact-distinct scalar crossJoin
    "triangle_count_parts",  # two 1-row count scalars crossJoined onto 1 row
    "source_divergence",  # 1-row corpus-stats (V, per-source N) crossJoin
    "temperature_resample",  # 1-row corpus-total scalar crossJoin onto lang counts
    "kmv_intersection",  # two 1-row sketch/exact aggregates crossJoined
    "events_trending_decay",  # 1-row max-day scalar crossJoin onto day counts
    "events_rfm_segments",  # 1-row reference-day scalar crossJoin onto per-user aggs
    "dsir_importance_resample",  # two 1-row total-count scalars crossJoined onto B=64-row λ table
    "pareto_frontier",  # band_max prefix-max self-join: one row per occupied price band (value-domain-bounded)
    "retrieval_recall_audit",  # inherits knn_bruteforce's N_QUERIES=8 broadcast, != cond
    # round 13:
    "ivfpq_nprobe_sweep",  # exact-baseline side inherits knn's N_QUERIES=8 broadcast, != cond
    "confident_learning_noise_audit",  # 1-row confident-total scalar crossJoin onto the <=|labels|^2 matrix
    "dedup_lsh_quality",  # 1-row candidate-count scalar crossJoin onto the 1-row summary
    "training_order_shuffle",  # 256-row bucket-count prefix-sum self-join (value-domain-bounded)
    "rank_eval_bm25",  # 1-row n_relevant/mrr scalars crossJoined onto the 3-row per-k frame
    "collocations_pmi",  # 1-row total-bigram scalar crossJoin onto the filtered pair table
    "exact_median_2pass",  # 1-row (min,max) bounds aggregate crossJoin
    # round 14:
    "pq_m_sweep",  # exact-baseline side inherits knn's N_QUERIES=8 broadcast, != cond
    "cusum_drift_detector",  # _daily_grid types x broadcast-days expand
    "kendall_tau_daily",  # _daily_grid expand; day-pair self-join is type-keyed
    "wilcoxon_signed_rank_daily",  # _daily_grid expand (same as kendall)
    "lorenz_curve_tokens",  # 1-row (n, T, wsum) totals aggregate crossJoin
    "bfs_reach",  # 1-row unreached-count scalar over the bounded hop table
    "frequent_pairs",  # 1-row basket-count scalar crossJoin
    "drift_ks_binned",  # 1-row bounds/totals scalars + 256-row bin-table prefix self-join
    "kfold_assign",  # 1-row corpus-total scalar crossJoin onto the K-row fold table
    "rrf_fusion",  # 1-row query-vector crossJoin + inherited bm25 corpus-stats scalar
    "drift_psi",  # 1-row bounds/totals scalars onto the B=64-row bin table
    "temporal_holdout_split",  # 1-row max-ts + 1-row cold-count scalars
    "knn_label_audit",  # KNN_EVAL_QUERIES=64 bounded eval broadcast, != cond
    "chi2_label_shift",  # 1-row marginals scalar onto the label-cardinality cells
    "woe_iv_binning",  # 1-row bounds/totals/iv scalars onto the 10-row bin table
    "ece_calibration",  # 1-row N/ECE totals scalar onto the 10-row bin table
    "cusum_changepoint",  # 1-row totals scalar + bounded |days|-row theta prefix scans
    "bootstrap_ci_mean",  # 1-row full-mean x 1-row ci_lo x 1-row ci_hi scalars
    "key_skew_profile",  # 3x 1-row per-key totals scalar onto the key-size table
    "retention_curve_fit",  # 1-row max-day + 1-row n_users scalars, bounded offsets
    "benfords_law_audit",  # 1-row total + 1-row chi2 scalars onto the 9-digit table
    "kaplan_meier_churn",  # 1-row horizon scalar + bounded duration-domain theta scans
    "hhi_concentration",  # 2x 1-row totals scalar onto the per-entity count table
    # round 7 — all value-domain-bounded theta joins / 1-row scalars:
    "mannwhitney_u_test",  # 50-value per-count table theta prefix join
    "spearman_rank_corr",  # 50/11-value marginal rank tables + 1-row totals
    "kendall_tau_binned",  # 550-cell table self-join + 1-row tie scalars
    "cramers_v_matrix",  # <=15-cell contingency x 1-row totals/dims scalars
    "mutual_information_binned",  # 5x3 cells x 1-row totals scalar
    "simpson_paradox_audit",  # 1-row pooled-sums scalar onto 3 group rows
    "acf_daily_counts",  # |days|-row grid x 1-row bounds scalar + lag join
    "ewma_control_chart",  # |days|-row grid history theta join, 1-row y0/sigma
    "theil_sen_trend",  # |days|^2-pair table rank theta join (day-domain)
    "bh_fdr_control",  # |types|-row p-value table rank theta join
    "nelson_aalen_hazard",  # bounded duration-domain theta scans (KM twin)
    "assoc_rules_confidence",  # 1-row basket-count scalar crossJoin
    "jackknife_variance",  # 1-row totals scalar onto |sources| rows
    "page_hinkley_drift",  # |days|-row grid prefix/min theta joins
    "capture_recapture",  # 1-row bounds scalar onto per-user halves
    "last_digit_uniformity",  # 10-digit table x 1-row total/chi2 scalars
    "gains_curve_calibration",  # 10-bin table cumulative theta join
    "extreme_value_fit",  # 1-row moments scalar over the daily-max table
    "logistic_regression_irls",  # 50-value binned table, driver loop
    "markov_stationary_dist",  # |types|^2 pair table, driver loop
    "kruskal_wallis_test",  # 50-value rank table + 1-row tie scalars
    "moods_median_test",  # 50-value rank straddle + 1-row median/marginal scalars
    "effect_size_panel",  # two 1-row group scalars + 50-value dominance table
    "runs_test_randomness",  # |days|-row grid adjacency + 1-row totals
    "poisson_dispersion_test",  # |days|-row grid x 1-row totals scalar
    "auc_roc_centroid",  # confidence-grid-bounded count table prefix join
    "entropy_rate_markov",  # |types|^2 pair table, driver loop
    "durbin_watson_stat",  # |days|-row grid adjacency + totals
    "variance_ratio_test",  # |days|-row grid blocks + 1-row totals
    "ols_leverage_audit",  # 50-value table x 1-row sums scalar
    "hash_uniformity_audit",  # 100-bucket table x 1-row total/chi2 scalars
    "cochran_armitage_trend",  # 5-cell table, 1-row sums scalar
    # round 8 — value-domain-bounded theta joins / 1-row scalars:
    "jarque_bera",  # 50-value count table x 1-row (n, Σv) scalar
    "hodges_lehmann_shift",  # 50x50 weighted diff grid + 1-row totals
    "wilcoxon_signed_rank",  # <=49-value |d| count table prefix join
    "grubbs_max_outlier",  # |days|-row table x 1-row moments scalar
    "kendalls_w",  # 21-cell count grid x 1-row tie scalar
    "fk_containment_audit",  # 1-row d_child x 1-row d_matched scalars
    "join_cardinality_audit",  # 3x 1-row side-stats scalars crossJoined
    "linear_counting_audit",  # 1-row (n_exact, m) sizing scalar crossJoin
    "ljung_box_test",  # |days|-grid + 1-row bounds scalar (ACF shape)
    "periodogram_fixed",  # day-grid x 1-row bounds scalar
    "seasonal_decompose_ma",  # day-grid x 1-row bounds scalar
    "ccf_lagged",  # 1-row denominator scalars + day-grid bounds
    "monroe_log_odds",  # 1-row corpus-totals scalar crossJoin
    "shuffle_run_audit",  # inherits training_order_shuffle's 256-row offsets
    "theil_index",  # 1-row totals scalar crossJoin
    "pacf_daily_counts",  # day-grid x 1-row bounds scalar (ACF shape)
    "mann_kendall_trend",  # |days|^2 pair theta join (day-domain)
    "changepoint_split",  # |days|^2 prefix theta join (day-domain)
    "target_encode_oof",  # 1-row totals scalar onto the 25-cell grid
    "collocations_llr",  # 1-row total-bigram scalar crossJoin (PMI shape)
    "tukey_hsd",  # 3-row group frame x 1-row pooled-MSE scalar
    "ks_test_quantity",  # 50-value cumulative grid x 1-row totals scalar
    "g_test_independence",  # 3x 1-row xlx-margin scalars crossJoined
    "revenue_var_es",  # day-domain rank straddle + 1-row VaR scalar
    "source_diversity_indices",  # |sources|-row frame x 1-row totals
    "modularity_regions",  # 25-cell region grid x 1-row m/intra scalar
    "qq_deciles",  # 50-value cumulative grid x 1-row totals scalar
    # round 10 — value-domain-bounded theta joins / 1-row scalars:
    "jonckheere_terpstra",  # 5x|delay-domain| cell-table theta self-join
    "brunner_munzel",  # 50-value count-table cumulative theta join
    "cuped_adjustment",  # 1-row (mn,mx)->mid split-day scalar crossJoin
    "cramers_v_segment_nation",  # <=125-cell grid x 1-row totals scalar
    "mutual_information_nominal",  # <=125-cell grid x 1-row totals scalar
    "goodman_kruskal_lambda",  # 4x 1-row max/sum scalars crossJoined
    "adjusted_rand_index",  # 3x 1-row pair-sum scalars crossJoined
    "isotonic_calibration",  # <=10-bin grid interval theta joins
    "label_propagation",  # 1-row community/node-count scalar crossJoin
    "prefixspan_topk",  # 1-row n_sessions scalar crossJoin
    "forecast_error_audit",  # day-grid EWMA horizon theta join + 1-row y0
    "quantile_sketch_audit",  # 256-bin prefix theta join + 1-row bounds
    "energy_distance_test",  # 50x50 value-cell cross product + 1-row totals
    "cramer_von_mises",  # 50-value cumulative theta join + 1-row totals
    "transitivity_parts",  # 1-row triangle/wedge scalars crossJoined
    "hampel_filter_daily",  # |types| x |days| bounded grid expand (_daily_grid)
    "platt_scaling",  # bounded percent-grid collect (driver IRLS loop)
    "bloom_fpr_audit",  # 4-row hash-index crossJoin + 1-row count scalars
    "logrank_test",  # duration-domain at-risk theta join + 1-row horizon
    "chow_test",  # |types|x|days| bounded grid expand (_daily_grid)
    "dunn_posthoc_test",  # 50-value cumulative theta join + 1-row rank sums
    "spectral_entropy_daily",  # |types|x|days| bounded grid expand
    "weighted_kappa_transitions",  # 3x3 margin cross + 1-row scalars
    "anderson_darling_2sample",  # 50-value cumulative theta join + totals
    # round 11 — value-domain-bounded theta joins / 1-row scalars:
    "pq_recall_audit",  # inherits knn_bruteforce's N_QUERIES=8 broadcast, != cond
    "wasserstein_quantity",  # 50-value cumulative/successor theta joins + totals
    "distribution_distance_panel",  # 50-value grid x 1-row totals scalar
    "ansari_bradley_test",  # 50-value tie-block theta join + 1-row totals
    "ordinal_association_panel",  # 550-cell self-joins + 1-row tie scalars
    "atkinson_index",  # 1-row totals scalar crossJoin (theil_index shape)
    "t_closeness_audit",  # 11-band global marginal expand + 1-row gtot scalar
    "hurst_rescaled_range",  # 4-size literal expand + day-grid blocks + 1-row slope
    "weibull_survival_fit",  # duration-domain risk/prefix theta joins + horizon
    "sprt_sequential_audit",  # 1-row dmin scalar + day-domain cumulative theta
    "holm_bonferroni_panel",  # |types|-row ranked step-down theta join
    "fisher_combined_meta",  # |types|-row p-value panel rollup (BH machinery)
    "negbin_overdispersion_fit",  # |days|-grid expand + 1-row bounds scalar
    "kpss_stationarity",  # |days|-grid partial-sum theta joins + 1-row totals
    "granger_causality_daily",  # |days|-grid lag join + 1-row moment scalar
    "frequent_triples",  # 1-row basket-count scalar crossJoin (pairs shape)
    "classifier_quality_panel",  # |classes|-row confusion rollup (ECE shape)
    "silhouette_labels_audit",  # |classes| cosines/vec, bounded centroid bcast
    "quantile_shift_panel",  # 9-row decile frame x 50-value cumulative grid
    # round 12 — recall audits inherit knn_bruteforce's N_QUERIES=8
    # broadcast with a != condition on the EXACT side (the thing being
    # audited against); the approximate sides are equality joins
    "ivfpq_recall_audit",
    "emb_quantize_recall",
    # round 12 — bounded-grid regression diagnostics + 1-row scalars
    "white_test_daily",  # |types|x|days| grid expand (_daily_grid shape)
    "newey_west_trend",  # same grid expand + bounded lag joins
    # round 13 — all on the same bounded |types|x|days| grid expand:
    "theil_u_forecast",  # _daily_grid expand + partitioned lag window
    "seasonal_mann_kendall",  # grid expand + per-(type, weekday) pair join (day-domain)
    "engle_granger_cointegration",  # grid expand + per-type 1-row OLS-param scalar joins
    "hill_tail_index",  # (k+1)-row TakeOrdered frame x 1-row xmin scalar
    "mondrian_conformal_audit",  # 1-row residual-bounds scalar crossJoin
    "fairness_selection_audit",  # 1-row totals scalar crossJoin
}


@pytest.fixture(scope="module")
def dfs(spark):
    return {
        name: fn(spark, SF)
        for name, fn in registry.queries().items()
        if name not in SKIP
    }


@pytest.fixture(scope="module")
def plans(dfs):
    return {name: formatted_plan(df) for name, df in dfs.items()}


def test_no_complex_types_in_output(dfs):
    """The DRIVER's canonicalizer crashes on list/struct/map cells
    (pandas sort_values → 'unhashable type: list' — the round-3
    multimodal_features red row). Every registry query's OUTPUT must
    therefore be scalar-only: flatten arrays to f0..fN columns or a
    formatted string before the final select. Streaming entries are
    rows-only in the driver (no canon pass) and are pinned by their
    own tests."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = {}
    for name, df in dfs.items():
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, (
        f"complex-typed output columns (driver canon crashes on these): {bad}"
    )


def test_no_cartesian_product(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


# Windows whose partition key is a constant-foldable literal are
# single-partition at runtime even though the plan's partition spec is
# non-empty. Legitimate ONLY when the window's input frame is bounded
# by construction — audited:
WINDOW_CONST_OK = {
    "rank_eval_bm25",  # per-k metric frame: LIMIT-bounded to <=20 rows
                       # before the lit(0) window (search.py rank_eval)
    "rrf_fusion",  # rank assignment over LIMIT-bounded top lists
                   # (<=20 lexical / <=50 dense rows)
}


def _const_partitioned_windows(df) -> bool:
    """True if any Window / WindowGroupLimit node in the ANALYZED
    logical plan has a non-empty partition spec with no
    AttributeReference anywhere in its expression trees — every
    partition key is a foldable literal, so the runtime partitioning
    is SinglePartition exactly like an empty spec.

    The check reads the logical plan rather than the formatted
    physical text: Catalyst constant-folds a literal partition key
    OUT of the printed Window arguments entirely, so no text pattern
    can see it (the r4 loophole). It walks the plan's nodes through
    children() and serialises only each window's partition-spec
    expressions to JSON, never the whole plan: TreeNode.toJSON writes
    a CaseWhen's elseValue in full on top of its child index, so a
    whole plan with nested when/otherwise chains serialises to
    hundreds of MB and exhausts the driver heap."""
    import json

    def _has_attr(expr: dict) -> bool:
        if "AttributeReference" in expr.get("class", ""):
            return True
        return any(
            _has_attr(child)
            for v in expr.values()
            if isinstance(v, list)
            for child in v
            if isinstance(child, dict)
        )

    def _seq(seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        stack.extend(_seq(node.children()))
        cls = node.getClass().getName()
        if not (cls.endswith(".Window") or cls.endswith(".WindowGroupLimit")):
            continue
        # toJSON flattens each expression tree into a list of dicts
        exprs = [
            e
            for expr in _seq(node.partitionSpec())
            for e in json.loads(expr.toJSON())
            if isinstance(e, dict)
        ]
        if exprs and not any(_has_attr(e) for e in exprs):
            return True
    return False


def test_no_unpartitioned_window(plans):
    """A Window whose Arguments line carries an empty partition spec
    (`..., [], [ord ...]`) funnels every row through one task — the
    bug class VERDICT r2 found in skew_join_salted_partial."""
    bad = []
    for n, p in plans.items():
        lines = p.splitlines()
        for i, line in enumerate(lines):
            if re.match(r"\(\d+\) Window(GroupLimit)?$", line.strip()):
                for arg in lines[i : i + 4]:
                    if arg.startswith("Arguments:") and ", [], [" in arg:
                        bad.append(n)
                        break
    assert not bad, f"unpartitioned Window in: {sorted(set(bad))}"


def test_no_const_partitioned_window(dfs):
    """VERDICT r4 loophole: `Window.partitionBy(F.lit(0))` keeps a
    non-empty partition spec in the LOGICAL plan (evading the
    physical empty-spec guard above, which can't see it after
    constant folding) yet is single-partition at runtime. Flag
    windows whose partition expressions are all foldable literals,
    unless audited bounded in WINDOW_CONST_OK."""
    bad = [
        n
        for n, df in dfs.items()
        if n not in WINDOW_CONST_OK and _const_partitioned_windows(df)
    ]
    assert not bad, (
        f"constant-partitioned Window in: {sorted(set(bad))} — "
        "single-partition at runtime; partition by a real key or "
        "audit the bounded frame into WINDOW_CONST_OK"
    )


def test_const_partition_detector_catches_synthetic_case(spark):
    """The detector itself must fire on a literal-keyed window over an
    unbounded frame — guards the guard (VERDICT r4 item 2)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cgtcalc_data_transformer_spark.sources.tpch import load_table

    df = load_table(spark, SF, "orders").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.lit(0)).orderBy("o_orderkey")
        ),
    )
    assert _const_partitioned_windows(df)
    # and a real-keyed window must NOT fire
    ok = load_table(spark, SF, "orders").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
        ),
    )
    assert not _const_partitioned_windows(ok)


def test_bnlj_only_on_audited_bounded_sides(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_OK
    ]
    assert not bad, (
        f"unaudited BroadcastNestedLoopJoin in: {bad} — if the broadcast "
        "side is bounded by construction, audit it and add to BNLJ_OK"
    )
