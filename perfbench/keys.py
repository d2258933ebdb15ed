"""Frozen op-key lists of the benchmark's workloads.

The lists are frozen here, not derived from the registry or from
``bench.py``, so that a change to either cannot silently change what a
workload measures. A key that is missing from the registry counts as a
failed call, not a skip.

``OPS_ALL`` and ``BATTERY_ALL`` are the full lists the workloads were
specified with. One run of either costs 100-140 s on a 4-core host (cold
pass, warm pass and oracle check), more than a run may take, so each
workload measures a fixed subset (``OPS_SF01``, ``BATTERY_SF001``).
"""

from __future__ import annotations

# bench.py's 15 headline keys, plus one consumer of each artifact root
# other than .ivf_index (which sim_search_ivf already covers).
OPS_ALL = [
    "agg_window_count",
    "enrich_region",
    "agg_hash",
    "join_sortmerge",
    "pipeline_local_supplier_volume",
    "pipeline_shipping_priority",
    "join_asof",
    "topk_per_group",
    "win_frame",
    "dedup_exact",
    "dedup_near_minhash",
    "sim_search_topk",
    "sim_search_ivf",
    "text_quality",
    "stream_tumbling",
    "dedup_cluster_canonical",  # .neardup_index
    "embedding_cluster_kmeans",  # .kmeans_index
    "graph_connected_components",  # .graph_index
]

# The 80 stats_*/ts_* keys registered when the benchmark was defined.
BATTERY_ALL = [
    "stats_ab_proportions", "stats_anova_oneway", "stats_benford_profile",
    "stats_brown_forsythe", "stats_capture_recapture", "stats_chi2_independence",
    "stats_cliff_delta", "stats_cochran_q", "stats_cohens_d_eras", "stats_cohens_h",
    "stats_cohens_kappa", "stats_cramers_v", "stats_cvm_eras", "stats_dunn_posthoc",
    "stats_event_lateness", "stats_friedman", "stats_gk_lambda", "stats_jarque_bera",
    "stats_join_cardinality", "stats_jonckheere_terpstra", "stats_kendall_tau_binned",
    "stats_key_integrity", "stats_kruskal_wallis", "stats_ks_eras", "stats_label_impurity",
    "stats_ljung_box", "stats_mad_outliers", "stats_mann_whitney", "stats_mantel_haenszel",
    "stats_mcnemar", "stats_mood_median", "stats_mutual_info_cat", "stats_page_trend",
    "stats_permutation_shift", "stats_power_mde", "stats_profile_drift",
    "stats_psi_stability", "stats_quantile_ci", "stats_runs_test", "stats_spearman_binned",
    "stats_srm_check", "stats_table_profile", "stats_theil_u", "stats_trend_proportions",
    "stats_trimmed_mean", "stats_welch_ttest", "stats_wilcoxon_signed_rank",
    "ts_autocorr", "ts_bollinger_breakout", "ts_burstiness", "ts_changepoint_cusum",
    "ts_cross_correlation", "ts_croston", "ts_dispersion_index", "ts_dow_effects",
    "ts_event_gaps", "ts_forecast_backtest", "ts_holt_forecast", "ts_hour_of_week_profile",
    "ts_hurst_rs", "ts_interpolate_linear", "ts_mann_kendall", "ts_ohlc_candles",
    "ts_outage_windows", "ts_pacf", "ts_page_hinkley", "ts_peak_concurrency",
    "ts_periodogram_fixed", "ts_records_count", "ts_resample", "ts_sample_entropy",
    "ts_seasonal_index", "ts_seasonal_naive_error", "ts_seasonal_residual_anomaly",
    "ts_seasonality_strength", "ts_sma_crossover", "ts_spectral_entropy", "ts_theil_sen",
    "ts_turning_points", "ts_var_es",
]

# Measured: one headline key per kind of work (windowed aggregate,
# broadcast join, sort-merge join, multi-join pipeline, as-of join, window
# frame, MinHash dedup, brute-force and IVF similarity search), and of the
# extra artifact consumers only .graph_index's, whose cold build and oracle
# are the cheapest. stream_tumbling is left to stream_regions.
OPS_SF01 = [
    "agg_window_count",
    "enrich_region",
    "join_sortmerge",
    "pipeline_local_supplier_volume",
    "join_asof",
    "win_frame",
    "dedup_near_minhash",
    "sim_search_topk",
    "sim_search_ivf",
    "graph_connected_components",
]

# Measured: the five stats ops ROADMAP direction 4 names, plus stats and
# ts ops spread over the battery's construction styles.
BATTERY_SF001 = [
    "stats_mcnemar",
    "stats_kendall_tau_binned",
    "stats_jonckheere_terpstra",
    "stats_mad_outliers",
    "stats_ljung_box",
    "stats_anova_oneway",
    "stats_dunn_posthoc",
    "stats_table_profile",
    "ts_resample",
    "ts_ohlc_candles",
    "ts_peak_concurrency",
    "ts_spectral_entropy",
    "ts_hurst_rs",
    "ts_pacf",
]

# stream_regions calls no op: its two streaming queries are built once.
WORKLOAD_KEYS = {
    "stream_regions": [],
    "ops_sf0.1": OPS_SF01,
    "battery_sf0.01": BATTERY_SF001,
}

for _keys in (OPS_ALL, BATTERY_ALL, *WORKLOAD_KEYS.values()):
    assert len(_keys) == len(set(_keys)), "duplicate key in a frozen list"
assert len(BATTERY_ALL) == 80 and len(OPS_ALL) == 18
assert set(BATTERY_SF001) <= set(BATTERY_ALL) and set(OPS_SF01) <= set(OPS_ALL)
