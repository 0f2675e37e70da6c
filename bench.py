"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": <sf>}

Each query is materialized through the noop sink (all output columns are
computed; nothing collects to the driver). Warm-up touches EVERY benched
table once (parquet footers + the nanos/NTZ timestamp conversion path)
plus one query for JVM/codegen warm-up — round-2 benches misattributed
~4 s of one-time events-table cold cost to whichever query ran first
(VERDICT r2 "what's wrong" #3). Each query then runs twice and reports
the min, so per-round deltas are plan signal, not scheduler noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # forecast core (the reference's own query shapes)
    "flagship_persistence_metrics",
    "ar1_train_eval",
    "w9_log_returns",
    "w5_lead_targets",
    "w20_rolling_stats",
    "w15_fft_features",
    "stl_per_series",
    # relational core
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_nation_revenue",
    "topk_parts_per_brand",
    "sessionize_counts",
    "json_props_extract",
    # LLM-data-pipeline extensions
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_cosine_bruteforce",
    "text_quality_score",
    "text_winnow_fingerprint",
    # curation layer (round 4): packing / contamination / retrieval / e2e
    "pack_sequences_summary",
    "contamination_ngram_overlap",
    "bm25_search_topk",
    "curation_e2e_report",
    # scale-path custom operators
    "range_join_event_windows",
    "ar_order_select_aic",
    # round-4 continuation: planner breadth + TS analytics + span dedup
    "q18_big_orders",
    "acf_per_series",
    "dedup_substring_spans",
    "event_transition_matrix",
    "holt_winters_per_series",
    "survival_km_conversion",
    "bpe_train_merges",
    # model family: per-series distributed training (OLS prophet-like),
    # stateful backtest fold, and pure-JVM deep-model inference
    "prophet_like_train_eval",
    "trading_sim_trades",
    "nbeats_forward_pass",
    # round-5 breadth (VERDICT r4 #7): heaviest families that had no bench
    # row, so regressions there become visible round-over-round
    "scd2_user_segment_history",
    "als_rank1_half_step",
    "kmeans_one_step",
    "arima_order_select_aic",
    "dedup_simhash",
    "dedup_clusters_star",
    "basket_association_rules",
    "cohort_weekly_retention",
    "mllib_linear_forecaster",
    "streaming_stream_join",
    # round-5 additions: TPC-H completion heavies + ML-prep/sketch rows
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q21_latest_ship_supplier",
    "bpe_encode_apply",
    "perplexity_unigram",
    "pagerank_nation_trade",
    "hll_distinct_users",
    "macd_signal",
    "hybrid_rrf_fusion",
    "ks_test_value_drift",
    "pca_power_iteration",
    "cms_word_frequency",
    # integrity screens: fact-join graph reduction + hour-grid coverage
    "triangle_count_trade_graph",
    "hourly_gap_detection",
    # feature/index construction: posting-list build + hash-ranked negatives
    "inverted_index_postings",
    "negative_sampling_brands",
    # round-6 additions: eval battery, corpus stats, graph similarity,
    # item-item CF, white-noise gate, FK audit — the heaviest row of each
    # new family so regressions stay visible round-over-round
    "roc_auc_rank",
    "precision_recall_at_k",
    "bigram_logprob_per_doc",
    "heaps_vocab_growth",
    "node_jaccard_similarity",
    "item_cooccurrence_similarity",
    "ljung_box_q",
    "referential_orphan_counts",
    # round-6 session-2 families: heaviest row of each (customer-rank
    # windows / OHLC bar pipeline / sweep-line expansion / two-pass OLS)
    "rfm_segments",
    "gini_revenue_concentration",
    "stochastic_oscillator_14_3",
    "peak_concurrency",
    "durbin_watson_residuals",
    # one row per catalog_r7_* .. catalog_r19_* family
    "attribution_markov_removal",
    "ndcg_at_10_brands",
    "qini_curve_points",
    "reid_risk_ladder",
    "adamic_adar_links",
    "trigram_hapax_share",
    "spearman_qty_discount",
    "capm_beta_by_type",
    "realized_vol_7d",
    "lead_time_percentiles",
    "forecast_accuracy_battery",
    "fisher_price_index",
    "matrix_profile_4h",
    "pq_adc_topk",
    "energy_distance_drift",
    "brier_decomposition",
    "croston_forecast",
    "binseg_second_split",
    "topsis_supplier_ranking",
    "theta_method_per_series",
    "blocking_quality_report",
    "audio_wav_roundtrip_features",
    "gumbel_return_level",
    "dp_histogram_laplace",
    "sprt_purchase_rate",
    "markov_next_event_accuracy",
    "kingman_wait_estimate",
    "funnel_abandonment_profile",
    "logrank_signup_cohorts",
    "table_profile_orders",
    "candlestick_patterns_daily",
    "ucb1_arm_scores",
    "ltv_cohort_curves",
    "local_clustering_coefficient",
    "cents_digit_uniformity",
    "hurst_rs_per_series",
    "ulcer_index_by_type",
    "kalman_level_daily",
    "generalized_esd_stats",
    "permutation_entropy_by_type",
    "isotonic_conversion_curve",
    "cochran_armitage_trend",
    "engle_granger_pairs",
    "jarque_bera_by_type",
    "dunning_g2_terms",
    "distinct_ngram_ratios",
    "mann_whitney_value",
    "hill_tail_index",
    "intrinsic_dimension_twonn",
    "cooks_distance_top",
    "granger_causality_pairs",
    "arch_lm_test",
    "partial_correlation_qpd",
    "page_hinkley_drift",
    "weibull_mrr_fit",
    "friedman_test_daily",
    "hjorth_params_by_type",
    "sample_entropy_by_type",
    "morans_i_nation_balance",
    "davies_bouldin_segments",
    "markov_entropy_rate",
    "information_ratio_by_type",
    "spectral_entropy_by_type",
    "theil_atkinson_by_region",
    "sax_bigram_motifs",
    "hopkins_statistic",
    "pain_martin_by_type",
    "chow_test_price_qty",
    "haar_energy_levels",
    "decision_stump_gain",
    "pairwise_sign_tests_fdr",
    "bootstrap_ci_mean_return",
    "eb_shrunk_rates",
    "ab_sample_size_plan",
    "editdist_near_pairs",
    "modularity_regions",
    "markov_order_lr_test",
    "good_turing_counts",
    "bt_strengths",
    "bleu_doc_pairs",
]

# Heavyweight end-to-end rows: each is a full distributed training job,
# run twice with BOTH timings reported (single_run_cold_warm in the JSON)
# — the headline number is the warm run. champion_tcn_e2e is the
# reference's production shape
# (window 79 x ~50 features, TCN 19 filters/3 layers/kernel 3, horizons
# {9..24}, champion_1d_config.json) trained per event-type series; the
# reference spends ~25 min per candidate of this shape (BASELINE.md) —
# this row IS the baseline comparison for the model family.
def _champion_row(spark, sf_dir):
    # the COMPLETE reference loop: features -> champion TCN (combined_diff)
    # -> predictions -> model-driven strategy -> metrics + trading summary;
    # one training pass feeds both legs
    from predictor_spark.plans.champion import champion_full_pipeline

    return champion_full_pipeline(spark, sf_dir, bar_seconds=3600, epochs=10)


# ga_nbeats_search is the optimizer-over-predictor composition (reference
# §3.2): 2 generations x 4 candidates = 8 full distributed N-BEATS
# training jobs scored by the reference fitness law, champion reported.
# The reference spends ~25 min PER candidate at this scale (BASELINE.md).
def _ga_search_row(spark, sf_dir):
    from predictor_spark.plans.model_search import nbeats_ga_search_report

    return nbeats_ga_search_report(
        spark, sf_dir, pop_size=4, n_generations=2, epochs=10,
        max_series=150, seed=0)


SINGLE_RUN = {"champion_tcn_e2e": _champion_row,
              "ga_nbeats_search": _ga_search_row}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from predictor_spark.session import get_spark
    from predictor_spark.sources.tables import TABLES, load_table

    spark = get_spark("predictor_spark_bench")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    # warm-up: every benched table's footer + ts-conversion path, then one
    # query for JVM/codegen
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    materialize(qs["q1_pricing_summary"](spark, sf_dir))
    # the contract's entry query runs first in HEADLINE; warm its own
    # window/codegen path too so its row is plan signal, not first-run
    # noise (VERDICT r4 #8: 1.55x driver drift on a sub-2 s row)
    materialize(qs["flagship_persistence_metrics"](spark, sf_dir))
    # spawn the Arrow python-worker pool AND warm the champion's REAL
    # cold path: its applyInPandas tasks import the predictor_spark
    # model stack (via the shiplib zip) inside every worker — numpy
    # alone does not cover that (VERDICT r5 #3: the r5 driver bench
    # still absorbed 20+ s of model-import cold-start into the
    # champion row). A 1-series micro-fit through the SAME estimator
    # entry point exercises zip shipping, worker spawn, Arrow, numpy
    # and the tcn module import on every daemon the pool hands out.
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from predictor_spark.models import tcn
    from predictor_spark.models.estimator import fit_predict_per_series

    # 32 micro-series -> 32 concurrent tasks: python workers are reused
    # per-core, so every daemon in the local[32] pool pays the model
    # import HERE instead of inside a timed row
    ts = pd.date_range("2024-01-01", periods=48, freq="6h")
    micro = pd.concat([
        pd.DataFrame({"user_id": s, "ts": ts,
                      "value": [float((i + s) % 7) for i in range(48)]})
        for s in range(32)
    ], ignore_index=True)
    warm_df = spark.createDataFrame(micro).repartition(32)
    materialize(fit_predict_per_series(
        warm_df, core=tcn, window=4, horizons=(1,),
        train_end="2024-01-08 00:00:00",
        train_kwargs={"epochs": 1, "channels": 2, "layers": 1, "kernel": 2}))

    timings: dict[str, float] = {}

    # training rows run TWICE and report both timings (VERDICT r5 #6:
    # champion measured 7.9-33.7 s across r5 with an identical plan —
    # the cold/warm split makes driver-box noise diagnosable from the
    # JSON alone). The headline number is the warm (second) run: plan
    # cost, not scheduler/import noise the warm-up may have missed.
    # These run BEFORE the headline sweep (VERDICT r8 #4): measuring
    # them after ~100 rows of sustained all-core load produced phantom
    # 2x "cold regressions" (r8 driver: champion cold 18.1 s contended
    # vs 8.2 s on the identical tree measured clean).
    cold_warm: dict[str, dict[str, float]] = {}
    for name, fn in SINGLE_RUN.items():
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        cold_warm[name] = {"cold": runs[0], "warm": runs[1]}
        timings[name] = runs[1]

    for name in HEADLINE:
        if name not in qs:
            continue
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(qs[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)

    # machine-speed yardstick, independent of Spark: r13 settled a
    # "+15 % bench regression" as machine-state drift between grading
    # windows (per-row median ratio vs the driver's own numbers was
    # 1.002 on an idle VM) — recording these two numbers per run makes
    # the next drift attribution a one-line comparison instead of a
    # controlled experiment. Reference point (r13, VERIFICATION_r13
    # §4): matmul ~0.70-0.94 s, loop ~2.1 s.
    try:
        import numpy as _np
        _rng = _np.random.default_rng(0)
        _a, _b = _rng.random((2048, 2048)), _rng.random((2048, 2048))
        _a @ _b  # BLAS warm-up
        _t0 = time.perf_counter()
        _a @ _b
        _mm = round(time.perf_counter() - _t0, 3)
        _t0 = time.perf_counter()
        _s = 0
        for _i in range(5_000_000):
            _s += _i
        _loop = round(time.perf_counter() - _t0, 3)
        yardstick = {"matmul2048_s": _mm, "pyloop5e6_s": _loop}
    except Exception:
        yardstick = {}

    full = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "single_run_cold_warm": cold_warm,
        "sf": sf,
        "machine_yardstick": yardstick,
    }
    # The driver captures only the LAST ~2000 chars of stdout and parses
    # the JSON line found there. Round 6's line (80+ rows, pretty
    # separators) exceeded that and BENCH_r06.json recorded parsed:null —
    # the whole round's perf data was lost. The full per-query breakdown
    # is therefore written to BENCH_FULL.json, and the stdout line is
    # hard-capped: compact separators, and if still over budget the
    # FASTEST rows are dropped first (the heavy rows are the perf signal;
    # `value` stays the total over ALL rows either way).
    here = os.path.dirname(os.path.abspath(__file__))
    out_name = "BENCH_FULL.json"
    with open(os.path.join(here, out_name), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    line_budget = 1600
    emit = dict(full)
    emit["queries"] = dict(timings)
    emit["n_queries"] = len(timings)
    emit["full"] = out_name
    # Drop order: fastest rows first (the heavy rows are the perf
    # signal); the dropped rows' summed seconds are reported as
    # omitted_total_sec so the stdout line still decomposes the total.
    by_speed = sorted(timings, key=lambda n: (timings[n], n))
    dropped = 0
    line = json.dumps(emit, separators=(",", ":"))
    while len(line) > line_budget and dropped < len(by_speed):
        emit["queries"].pop(by_speed[dropped], None)
        dropped += 1
        emit["queries_omitted"] = dropped
        emit["omitted_total_sec"] = round(
            sum(timings[n] for n in by_speed[:dropped]), 3)
        line = json.dumps(emit, separators=(",", ":"))
    if len(line) > line_budget:
        # all query rows dropped and the residual metadata alone is over
        # budget: shed the cold/warm detail too (it lives in
        # BENCH_FULL.json), then fail LOUDLY rather than print a line the
        # driver's ~2000-char tail capture would truncate to parsed:null
        # (ADVICE r7: a silent overflow loses the whole round's perf
        # record, as in BENCH_r06)
        emit.pop("single_run_cold_warm", None)
        line = json.dumps(emit, separators=(",", ":"))
    if len(line) > line_budget:
        # explicit raise, not assert: python -O strips asserts, which
        # would silently reintroduce the truncated-line/parsed:null
        # failure this guard exists to prevent (ADVICE r8)
        raise SystemExit(
            f"bench stdout line is {len(line)} chars (> {line_budget}) even "
            "with every query row and cold/warm detail dropped — shrink the "
            "metadata keys; a truncated line records parsed:null for the "
            "round")
    print(line)


if __name__ == "__main__":
    main()
