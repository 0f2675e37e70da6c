"""Plan audit — verifies the physical plans have the shape we designed for
100 TB: filters/projections pushed into the parquet scan, dims broadcast,
window families sharing one WindowExec, codegen coverage.

Usage: python tools/explain_audit.py [query ...]
Prints one summary line per query + any violations of the expectations
table below. Not a correctness gate — a design-review tool.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from predictor_spark.session import get_spark  # noqa: E402

#: per-query expectations: substrings that MUST appear / MUST NOT appear
EXPECT: dict[str, dict[str, list[str]]] = {
    "q1_pricing_summary": {
        "must": ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
                 "partial_"],  # map-side partial aggregation
        "not": [],
    },
    "q3_top_orders": {
        "must": ["BroadcastHashJoin", "TakeOrderedAndProject"],
        "not": ["CartesianProduct"],
    },
    "q5_region_nation_revenue": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct"],
    },
    "w5_lead_targets": {
        # all horizon leads must share ONE window exec (one sort pass)
        "must": [],
        "not": [],
        "max_window_execs": 1,
    },
    "flagship_persistence_metrics": {
        "must": ["partial_"],
        "not": [],
        "max_window_execs": 1,
    },
    "w9_log_returns": {"must": [], "not": [], "max_window_execs": 1},
    "topk_parts_per_brand": {"must": ["BroadcastHashJoin"], "not": []},
    "knn_cosine_bruteforce": {"must": ["BroadcastNestedLoopJoin"], "not": []},
    # parity batch: windowed families must stay single-WindowExec; the
    # similarity paths must never degenerate to an unblocked cross join
    "w3_single_step_window": {"must": [], "not": [], "max_window_execs": 1},
    "w12_anti_naive_lock": {"must": [], "not": [], "max_window_execs": 1},
    "a12_ga_fitness": {"must": ["partial_"], "not": [], "max_window_execs": 1},
    "n1_zscore_roundtrip": {"must": [], "not": [],
                            "max_window_execs": 0},  # stats are literals
    "knn_cosine_ivf": {
        # list assignment is a broadcast-literal argmin (no join at all);
        # the probe join on cent_id must broadcast the tiny query side
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    },
    "dedup_embedding_cosine": {"must": [], "not": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    "dedup_minhash_lsh": {"must": [], "not": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # binned range join: MUST be a hash join on the bin key, never the
    # nested-loop plan Spark picks for raw interval predicates
    "range_join_event_windows": {
        "must": ["HashJoin"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "ar2_yule_walker_coeffs": {
        "must": ["partial_", "PushedFilters: [IsNotNull(ts), LessThan(ts"],
        "not": [],
    },
    # train/eval are separate range-limited scans: BOTH bounds must reach
    # the parquet scan as row-group-prunable predicates on raw nanos ts
    "ar1_train_eval": {
        "must": ["PushedFilters: [IsNotNull(ts), LessThan(ts",
                 "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"],
        "not": [],
    },
    "text_winnow_fingerprint": {"must": [], "not": ["CartesianProduct"],
                                "max_window_execs": 0},
    "text_token_bpe": {"must": [], "not": ["Exchange"]},  # pure projection
    # same-table as-of join: ONE scan of events (tag-in-one-scan variant),
    # one window pass — never a join operator, never a second scan
    "asof_join_purchases": {
        "must": [],
        "not": ["Join", "CartesianProduct"],
        "max_window_execs": 1,
        "max_scans": 1,
    },
    "rollup_time_hierarchy": {"must": ["partial_", "Expand"], "not": []},
    "kmeans_one_step": {"must": ["partial_"], "not": ["Join"]},
    # champion bar/feature pipeline: grid + fill + sid joins must all
    # broadcast (the non-events sides are tiny), features stay in window
    # execs — never a sort-merge join or cartesian
    "champion_feature_frame": {
        "must": ["BroadcastHashJoin"],
        "not": ["SortMergeJoin", "CartesianProduct"],
    },
    # round-4 additions: masked moments is a single partial-agg pass; the
    # datapipe family must keep its tiny sides broadcast (benchmark
    # shingles, rate table, corpus/idf scalars) and never cartesian
    "a10_masked_moments": {"must": ["partial_"], "not": ["Join"]},
    "pack_sequences_summary": {
        "must": ["partial_"], "not": ["Join"], "max_window_execs": 1,
    },
    "contamination_ngram_overlap": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct"],
    },
    "mixture_stratified_sample": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
    },
    # r14 shape: per-term tfs come straight off the token array in one
    # map-side projection (no explode, no (id, term) shuffle); the only
    # join left is the 1-row corpus-stats broadcast (a BroadcastNestedLoop
    # cross by construction — not a data cartesian), so the former
    # BroadcastHashJoin "must" no longer applies
    "bm25_search_topk": {
        "must": ["TakeOrderedAndProject", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    # continuation rows: the composed curation plan must never cartesian;
    # skew-proof distinct is two agg passes, no join; walk-forward folds
    # must push their range bounds into the parquet scans
    "curation_e2e_report": {"must": [], "not": ["CartesianProduct"]},
    "skewed_distinct_users": {"must": ["partial_"], "not": ["Join"]},
    # "LessThan(ts" matches both the micros layout (ts) and the nanos
    # layout (ts_ns) — the fold bounds must reach the parquet scan either way
    "walk_forward_ar1_eval": {"must": ["LessThan(ts"],
                              "not": ["CartesianProduct"]},
    # relational planner-breadth rows: Q6 is scan-bound (all predicates
    # pushed, no join); the star joins keep their dims broadcast; Q19's
    # common clauses must reach the scans while the disjunction stays as
    # the join residual
    "q6_revenue_delta": {
        "must": ["partial_", "LessThan(l_quantity"],
        "not": ["Join"],
    },
    "q7_nation_volume": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct"],
    },
    "q14_promo_share": {
        "must": ["BroadcastHashJoin", "partial_",
                 "GreaterThanOrEqual(l_shipdate"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q18_big_orders": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q19_disjunctive_join": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "exists_not_exists_orders": {"must": ["partial_"],
                                 "not": ["CartesianProduct"]},
    # time-series analytics: each is one shuffle on the series key; the
    # lag/sliding families must share a single WindowExec sort pass
    "acf_per_series": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "anomaly_rolling_zscore": {
        "must": [], "not": ["Join"], "max_window_execs": 1,
    },
    "event_transition_matrix": {"must": ["partial_"], "not": ["Join"]},
    # substring spans: hash-grouped candidates (semi join on the gram
    # hash) + one island window — never all-pairs
    "dedup_substring_spans": {
        # r14 shape: the dup-hash filter is a min/max window keyed on h
        # (ONE evaluation + ONE shuffle of the gram explode, replacing
        # the countDistinct aggregate + left-semi pair that re-ran the
        # md5 fan-out), plus the original doc_id island-merge window —
        # both partitioned, never single-task
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin", "Join"],
        "max_window_execs": 2,
    },
    "vocab_topk": {
        "must": ["partial_", "TakeOrderedAndProject"],
        "not": ["Join"],
    },
    # rank family + ntile: one exchange, two window passes (ntile's
    # tie-break key re-sorts in-partition — never re-shuffles)
    "window_rank_functions": {
        "must": [], "not": ["Join"], "max_window_execs": 2,
    },
    # session-3 additions: Q15's supplier attach broadcasts; the quality
    # report is two shared scans + conditional aggs (no per-constraint
    # rescans); HW is one fold per series (no window, no join); KM's risk
    # set is a window cumsum, never a correlated join; BPE iterates over
    # the word histogram with broadcast 1-row winners; split assignment
    # is projection + partial agg; centroids reduce before any join
    "q15_top_supplier": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "data_quality_report": {"must": ["partial_"], "not": ["CartesianProduct"]},
    "holt_winters_per_series": {
        "must": ["FlatMapGroupsInPandas"], "not": ["Join"],
        "max_window_execs": 0,
    },
    "survival_km_conversion": {"must": ["partial_"],
                               "not": ["CartesianProduct"]},
    "bpe_train_merges": {
        # r14 shape (commit 76b9087): the merge loop runs as per-round
        # lazy checkpoints materialized by the 1-row winner collect at
        # PLAN BUILD time; the returned frame is the collected merge
        # table as a LOCAL relation — zero Exchange, no distributed
        # operator may reappear in the final frame
        "must": [],
        "not": ["SortMergeJoin", "Exchange", "Scan parquet"],
    },
    "dataset_split_assignment": {"must": ["partial_"], "not": ["Join"]},
    "session_top_paths": {
        "must": ["partial_", "TakeOrderedAndProject"],
        "not": ["Join"], "max_window_execs": 2,
    },
    "label_centroid_similarity": {
        "must": ["partial_"], "not": ["CartesianProduct"],
    },
    # later session-3 additions: winsorize broadcasts the threshold frame;
    # rolling corr carries all six sufficient stats in ONE window pass
    # over the hour grid; conformal broadcasts the calibration intervals;
    # pinball expands tau in the projection; SCD2 is one window over the
    # weekly aggregate; weighted sampling is TakeOrdered over a projection
    "winsorize_values": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "rolling_corr_click_purchase": {
        "must": [], "not": ["CartesianProduct"], "max_window_execs": 1,
    },
    # two window passes are inherent here: the cutoff filter references
    # the ORDER column, so it cannot push below the lead window (boundary
    # rows' leads peek across the cutoff) — each of the train/eval
    # branches re-derives the windowed pairs over its own scan
    "conformal_interval_coverage": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 2,
    },
    "pinball_loss_eval": {
        "must": ["partial_"], "not": ["Join"], "max_window_execs": 1,
    },
    "scd2_user_segment_history": {
        "must": ["partial_"], "not": ["Join"], "max_window_execs": 1,
    },
    "weighted_sample_docs": {
        "must": ["TakeOrderedAndProject"], "not": ["Join", "Exchange"],
    },
    # final session-3 additions: the forecast-combination rows broadcast
    # their |series|-row decision/weight tables; basket keeps the 1-row
    # total broadcast (BNLJ, never cartesian); chi2 is join-free
    # conditional aggregation; ALS broadcasts the item factors; the
    # distribution metrics run one window per branch
    # three window passes by design: train-fit, train-rescan (AR1 MAE
    # needs the fitted coefs), and eval each re-derive the boundary-
    # correct pairs frame (cutoff filters can't push below the lead)
    "ensemble_forecast_eval": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 3,
    },
    "model_select_per_series": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 3,
    },
    "basket_association_rules": {
        "must": ["partial_"], "not": ["CartesianProduct"],
    },
    "ab_test_chi_square": {"must": ["partial_"], "not": ["Join"]},
    "als_rank1_half_step": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "distribution_metrics_per_type": {
        "must": ["partial_"], "not": ["CartesianProduct"],
        "max_window_execs": 2,
    },
    "multimodal_frame_dedup": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # round-5 TPC-H completion: stars must broadcast their dims and
    # never fall back to a sort-merge or nested-loop plan; correlated
    # qualifications must be windows, not self-joins
    "q2_min_cost_supplier": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "q4_priority_late": {
        "must": ["LeftSemi", "PushedFilters: [IsNotNull(o_orderdate)"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q8_market_share": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q9_product_profit": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q10_returned_items": {
        # group BEFORE the dim join: the BHJ must sit above the aggregate
        "must": ["BroadcastHashJoin", "partial_", "TakeOrderedAndProject",
                 "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q12_delay_buckets": {
        "must": ["partial_", "PushedFilters: [IsNotNull(l_shipdate)"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q13_customer_distribution": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "q16_supplier_variety": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "q17_small_qty_revenue": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "q21_latest_ship_supplier": {
        # double-correlated EXISTS/NOT-EXISTS as ONE window pass
        "must": ["BroadcastHashJoin", "LeftSemi"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "q22_idle_customers": {
        "must": ["LeftAnti", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    # round-5 ML-prep rows: corpus passes stay map-side until the keyed
    # aggregate; the sketch/graph rows must not re-scan the fact per
    # iteration (cache audited via InMemoryTableScan)
    "bpe_encode_apply": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1,
    },
    "doc_chunk_overlap": {
        "must": [], "not": ["Exchange", "Join"], "max_scans": 1,
    },
    "perplexity_unigram": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "feature_hash_buckets": {
        "must": ["partial_"], "not": ["Join"], "max_scans": 1,
    },
    "hll_distinct_users": {
        "must": ["partial_"], "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "cube_orders_profile": {
        "must": ["Expand", "partial_"], "not": ["Join"], "max_scans": 1,
    },
    "pagerank_nation_trade": {
        # r15 shape: the ≤|nations|² edge frame is collected once and
        # the iterations run driver-side, so the audited plan is the
        # 25-row local relation of ranks (the edge job runs at build)
        "must": [],
        "not": ["CartesianProduct", "Join", "Window"],
        "max_scans": 0, "max_window_execs": 0,
    },
    # indicators: ONE series shuffle into ONE Arrow-batched pandas pass —
    # no window sort chain, no join
    "macd_signal": {
        "must": ["FlatMapGroupsInPandas"],
        "not": ["Join"],
        "max_window_execs": 0, "max_scans": 1,
    },
    "rsi_indicator": {
        "must": ["FlatMapGroupsInPandas"],
        "not": ["Join"],
        "max_window_execs": 0, "max_scans": 1,
    },
    # drift monitors: fact reduced to sufficient statistics before any
    # global step; scalar totals broadcast
    "ks_test_value_drift": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "psi_value_stability": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "mutual_info_value_type": {
        # r13 shape: histogram-refinement ntile — the support spans are
        # computed DRIVER-SIDE from the collected histogram
        # (ntile_spans, bounded-collect), so the only windows are the
        # per-value PARTITIONED rank over the ≤9 straddling groups and
        # the two partitioned marginal sums over the 50-row contingency
        # table (ZERO unpartitioned windows); the contingency table is
        # CACHED (InMemoryTableScan) so its two consumers don't
        # re-expand the events scan; the r11 corpus-wide ntile sort
        # must not reappear
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 3,
    },
    "hybrid_rrf_fusion": {
        # r12 shape: the BM25 leg's top-20 cut runs EAGERLY at plan-build
        # time (orderBy().limit(20) + bounded collect), so neither it nor
        # the leg's BroadcastHashJoins appear in the audited final plan;
        # the final plan is the cosine leg's broadcast query join (its
        # rank window is PARTITIONED, on query_id), a ≤20×≤20 full-outer
        # fusion, and the closing orderBy(rrf).limit(10) — which is what
        # the TakeOrderedAndProject "must" below actually matches (ADVICE
        # r12: the BM25 cut's own TOAP is invisible here by design). The
        # r11 corpus-wide unpartitioned rank must not reappear — pinned
        # by the single-WindowExec cap (the cosine leg's partitioned
        # one), not a node ban.
        "must": ["TakeOrderedAndProject"],
        "not": ["CartesianProduct"],
        "max_window_execs": 1,
    },
    # sketches: fixed-width associative state, counter/bit tables
    # broadcast at probe time, token stream cached across the d hash rows
    "cms_word_frequency": {
        "must": ["partial_", "InMemoryTableScan", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "bloom_word_membership": {
        "must": ["InMemoryTableScan", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
    },
    "pca_power_iteration": {
        # covariance built once and cached; iterations are driver-side
        # over the 64-vector (bounded collects), so the returned frame
        # is a literal — audit the covariance path via a probe instead
        "must": [],
        "not": ["CartesianProduct"],
    },
    # data-quality screens: per-group discrete quantiles over the
    # aggregated support, fence/median tables broadcast back
    "outlier_iqr_flags": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "robust_zscore_mad": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "benford_first_digit": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # integrity screens: streams reduce to aggregate-sized cached frames
    # (daily sums / vocabulary / type list / edge list) before any
    # ordered, pairwise, or grid work
    "js_divergence_value_drift": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "winsorize_moments": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "fuzzy_match_part_names": {
        "must": ["BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "triangle_count_trade_graph": {
        "must": ["BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_scans": 4,
    },
    "hourly_gap_detection": {
        "must": ["InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # finite-window indicator: pure JVM window math, one stream scan,
    # exactly two window passes (daily close + rolling moments)
    "bollinger_bands_daily": {
        "must": [],
        "not": ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "FlatMapGroupsInPandas"],
        "max_window_execs": 2,
        "max_scans": 1,
    },
    # level iteration over the checkpointed edge list: the returned plan
    # must join broadcast level frames (leaf ExistingRDD), never re-scan
    # the fact join
    "bfs_hops_trade_graph": {
        "must": ["BroadcastHashJoin", "ExistingRDD"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # interval-interval overlap: day-binned equi-join with the 30-row
    # promo side broadcast; sessionization shares one user_id sort
    "promo_session_overlap": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 2,
        "max_scans": 1,
    },
    # feature/index construction: rank-capped collect in one agg pass
    "inverted_index_postings": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
        "max_window_execs": 1,
        "max_scans": 1,
    },
    # positives cached; the orders x lineitem fact join may legitimately
    # sort-merge, but candidates must come from the broadcast brand dim
    "negative_sampling_brands": {
        "must": ["BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_window_execs": 1,
        "max_scans": 4,
    },
    "quantile_normalize_daily": {
        "must": ["BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # scalars broadcast onto the |types|-row bottom frame read from the
    # cached daily aggregate
    "forecast_reconcile_topdown": {
        "must": ["InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # experimentation + incremental maintenance: per-user/per-term
    # reductions cached, scalar moment frames broadcast
    "ab_test_cuped": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
        "max_window_execs": 0,
    },
    "tfidf_top_terms": {
        "must": ["BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
        "max_window_execs": 1,
    },
    # robust trend stats: bars cached, pairwise slopes broadcast-joined
    # on the reduced frame, never on events
    "theil_sen_trend": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "mann_kendall_trend": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # transitive closure over the checkpointed vocabulary pair graph:
    # level joins read a leaf, never re-run the part scan per hop
    "entity_resolution_clusters": {
        "must": ["BroadcastHashJoin", "ExistingRDD", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # both legs must push their ts bound into the parquet scan
    "incremental_daily_rollup": {
        "must": ["BroadcastHashJoin", "PushedFilters: [IsNotNull(ts), LessThan(ts",
                 "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    # ---- round 6 ----
    # eval battery: per-user base is one events scan + map-side partial;
    # threshold grid / moment frames ride broadcast loops, never SMJ
    "confusion_matrix_threshold": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "roc_auc_rank": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "calibration_reliability_bins": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "lift_gain_deciles": {
        # r14 shape (commit 6a6e9d8, superseding the earlier swap-shape
        # expectation): the support collect + single decile aggregate
        # run as eager jobs at PLAN BUILD; totals/prefix sums are exact
        # integer arithmetic on the collected <=10 rows and the
        # returned frame is a LOCAL relation — zero Exchange, no
        # distributed operator (and in particular no resurrected
        # single-task ntile window) may appear in the final frame
        "must": [],
        "not": ["CartesianProduct", "SortMergeJoin", "Exchange",
                "Scan parquet", "Window"],
        "max_window_execs": 0,
    },
    "precision_recall_at_k": {
        # bought fact-join cached; topk broadcast onto the test side
        "must": ["BroadcastHashJoin", "InMemoryTableScan",
                 "TakeOrderedAndProject"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    # sampling: pure map-side expressions + one summary aggregate
    "group_kfold_assignment": {
        "must": ["partial_"], "not": ["Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "class_balance_weights": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "stratified_hash_sample": {
        "must": ["partial_"], "not": ["Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # graph: dims broadcast onto the fact join; candidate pairs from the
    # wedge join on the REDUCED edge list, cached where reused
    "trade_degree_distribution": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct"],
        "max_window_execs": 0,
    },
    "label_propagation_rounds": {
        "must": ["InMemoryTableScan"],
        "not": ["CartesianProduct"],
    },
    "node_jaccard_similarity": {
        "must": ["InMemoryTableScan", "BroadcastHashJoin",
                 "TakeOrderedAndProject"],
        "not": ["CartesianProduct"],
    },
    # ts-feature screens: one events scan, bar-frame joins broadcast
    "seasonality_strength_anova": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "ljung_box_q": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "ewma_control_chart": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,  # row_number per series
    },
    # corpus statistics: bigram c12 join legitimately shuffles on the
    # bigram key (SMJ allowed there — both sides are big at scale)
    "bigram_logprob_per_doc": {
        "must": ["InMemoryTableScan", "TakeOrderedAndProject"],
        "not": ["CartesianProduct"],
        "max_scans": 1,
    },
    "zipf_rank_slope": {
        "must": ["partial_", "TakeOrderedAndProject"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "heaps_vocab_growth": {
        # r13 shape: checkpoint thresholds by bucket refinement — the
        # |docs|-row rank window (and the old cached tokenized frame)
        # are gone; the bucket-count cumulative walk runs DRIVER-SIDE
        # on the collected ~|docs|/1024-row counts (bounded-collect),
        # so the only window is the per-frac PARTITIONED rank inside
        # one 1024-doc bucket; the 4-row threshold table is CACHED so
        # its two prefix consumers don't re-expand the refinement
        # subtree; prefix sums ride BroadcastNestedLoopJoin theta joins
        "must": ["BroadcastNestedLoopJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    # experiment statistics: one events scan, grouped-value ranks
    "srm_check_chi2": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "welch_t_arms": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "mann_whitney_arms": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,  # cumulative midranks
    },
    "jackknife_mean_se": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # integrity audits: parents broadcast, key columns only
    "referential_orphan_counts": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 0,
    },
    "duplicate_pk_check": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_window_execs": 0,
    },
    "order_reconciliation": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # risk: per-series windows, day-keyed self-join on the bar frame
    "max_drawdown_per_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "pairs_spread_zscore": {
        "must": ["partial_", "In(event_type, [purchase,view])"],
        "not": ["CartesianProduct"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # recsys: wedge join on customer over the cached distinct matrix
    "item_cooccurrence_similarity": {
        "must": ["InMemoryTableScan", "BroadcastHashJoin",
                 "TakeOrderedAndProject"],
        "not": ["CartesianProduct"],
        "max_scans": 3,
    },
    # concentration family: revenue reductions BEFORE rank windows,
    # dims broadcast, no global (unpartitioned) sort
    "gini_revenue_concentration": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 1,
    },
    "lorenz_curve_deciles": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2,
    },
    "pareto_abc_classification": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "hhi_market_concentration": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 4,
    },
    # OHLC indicator family: one stream scan into (type, day) bars,
    # then per-series windows only
    "vwap_brand_year": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    "atr_14_daily": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_scans": 1,
    },
    "obv_daily": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_scans": 1,
    },
    "stochastic_oscillator_14_3": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_scans": 1,
    },
    # behavioral sequences: bounded broadcast joins back onto reduced
    # frames; the sweep line must never join, only project+union
    "streak_longest_updays": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "peak_concurrency": {
        # r14: the +1/-1 sweep points come from ONE explode generator
        # over iv (was a two-branch Union that re-scanned events).
        # Match the operator name and the generator function separately,
        # not the nested expression spelling — the full
        # "explode(array(struct(" fragment breaks across Spark
        # formatting changes (ADVICE r14); in formatted mode the node
        # line is ") Generate" and the Generator detail carries
        # "explode("
        "must": ["InMemoryTableScan", "BroadcastHashJoin",
                 ") Generate", "explode("],
        "not": ["CartesianProduct", "SortMergeJoin", "Union"],
    },
    "rfm_segments": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
        "max_scans": 3,
    },
    "interpurchase_intervals": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 1,
    },
    # closed-form regression: single combinable aggregation (no solver
    # loop); Durbin-Watson re-reads events once per pass (unbounded
    # frame — NOT cached by design) and broadcasts 5 coefficient rows
    "ols_trend_per_series": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "ols_price_qty_discount": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "price_elasticity_loglog": {
        "must": ["BroadcastHashJoin", "partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    "durbin_watson_residuals": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # ranked-retrieval eval: cached fact join (InMemoryTableScan), dims
    # and the 25-row ranking broadcast; the per-customer metric joins are
    # large-large on the SAME key (o_custkey) coming out of groupBys, so
    # SMJ there is the co-partitioned plan we want — only an unkeyed
    # cartesian would be wrong
    "ndcg_at_10_brands": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
    },
    "map_at_10_brands": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
    },
    "mrr_brands": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
    },
    # nonparametric rank stats: grouped-value ranks (never row sorts).
    # spearman deliberately re-scans the 2-column projection three times
    # (q-ranks, d-ranks, moment pass) instead of caching the fact scan;
    # kruskal reads events twice (distinct-value table cached, join pass)
    "spearman_qty_discount": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    "kendall_tau_qty_discount": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "kruskal_wallis_value_by_type": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # multi-touch attribution: conversion/touch legs prune different
    # event columns; the per-user temporal join is keyed (never a
    # cartesian); position ranks + counts share one conversion-key
    # partitioning (first/last = 1 WindowExec; linear = 1; U = ranks
    # in both directions -> 2 sort orders)
    "attribution_last_touch": {
        "must": ["partial_",
                 "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 1,
    },
    "attribution_first_touch": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 1,
    },
    "attribution_linear": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 1,
    },
    "attribution_position_u": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    # markov removal: same journey join, ONE window pass (lag + desc
    # rank share the conversion-key partitioning), a 1-row cached
    # aggregate both union legs read (InMemoryTableScan)
    "attribution_markov_removal": {
        "must": ["partial_", "InMemoryTableScan", "Union"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    # shapley: journey join -> per-conversion channel-set groupBy ->
    # 1-row cached aggregate, no windows at all
    "attribution_shapley": {
        "must": ["partial_", "InMemoryTableScan", "Union"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # finance-risk: daily bars are one events rollup; stats are partial
    # aggregates over the tiny return frame
    "sharpe_sortino_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "var_historical_95": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "capm_beta_by_type": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    # gaps-and-islands over the bar frame: the cumsum/cummax windows
    # and the two spell ranks ride one (type, day) ordering; Spark
    # materializes them as separate Window nodes over ONE shuffle
    "drawdown_duration": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 4,
    },
    # governance audits: one scan each; the ladder's three QI levels
    # come from ONE rollup Expand, never three passes; k-anonymity's
    # total-row denominator is a broadcast scalar off the class table
    "k_anonymity_histogram": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "l_diversity_audit": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "reid_risk_ladder": {
        "must": ["partial_", "Expand"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # range-based volatility: one events scan into the OHLC bar rollup;
    # open+close ranks share one (type, day) partitioning (2 sort
    # orders); realized vol adds the lag + rolling window on the bar
    # frame (same (type) ordering -> 1 more WindowExec pair)
    "parkinson_volatility": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "garman_klass_volatility": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "realized_vol_7d": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 4,
    },
    # causal family: everything reduces through ONE groupBy(user) over
    # one events scan; DiD is a single global aggregate (no join, no
    # window); CEM reads its cached <=4-row stratum table twice
    # (detail + ATT legs of the union); the decile queries pay the
    # bounded user-frame ntile sort
    "diff_in_diff_readout": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "cem_att_purchase": {
        "must": ["partial_", "InMemoryTableScan", "Union"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r15 shape (both decile rows): _decile_agg collects the per-key
    # support once and sums the interior tiles driver-side (straddling
    # groups only get a partitioned rank job at build), so the audited
    # plan is the ≤10-row decile local relation
    "uplift_by_decile": {
        "must": [],
        "not": ["CartesianProduct", "Join", "Window"],
        "max_scans": 0, "max_window_execs": 0,
    },
    "qini_curve_points": {
        # r14 shape: the <=10-row decile frame is COLLECTED and the
        # cumulative sums run driver-side (funnel/lift idiom) — the
        # audited plan is a 10-row local relation (the decile job runs
        # eagerly at build time); no window of any kind may reappear
        "must": [],
        "not": ["CartesianProduct", "Window"],
        "max_scans": 0, "max_window_execs": 0,
    },
    # link analysis: the fact join collapses into ONE eager
    # localCheckpoint leaf (scans counted here are the tiny nation-dim
    # reads the iterations broadcast against); iterations are
    # broadcast joins + node groupBys; no row-grain SMJ anywhere
    "hits_hubs_authorities": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "katz_centrality_trade": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 4, "max_window_execs": 0,
    },
    "adamic_adar_links": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
        "max_scans": 0, "max_window_execs": 0,
    },
    "degree_assortativity": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 0, "max_window_execs": 0,
    },
    # k-core: 6 peel rounds x 2 k-values, each a pair of broadcast
    # survivor joins + an induced-degree groupBy, run EAGERLY behind
    # per-round localCheckpoints (without them the double-referenced
    # survivor set doubled the plan per round: 1271 exchanges -> 4);
    # the final visible plan is just nation |x| two survivor leaves,
    # so no partial_ aggregate appears in it
    "kcore_membership": {
        "must": ["BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # lexical family: flesch/TTR are pure expression pipelines over ONE
    # documents scan (no explode, no join); trigram hapax explodes the
    # stream, histograms on the trigram key and rejoins on that SAME
    # key (SMJ there is the co-partitioned plan; only a cartesian would
    # be wrong) — it scans documents once per side of the join
    "flesch_reading_ease": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join", "Generate"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "type_token_ratio": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join", "Generate"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "trigram_hapax_share": {
        # r8 redesign (VERDICT r7 #5): pre-aggregate to (source, g, cnt),
        # global frequency as ONE window sum over the aggregated frame —
        # single scan+explode, no self-join re-reading the parquet
        "must": ["partial_", "Generate"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    # ops/SLA family: one orders|x|lineitem join shuffled on the shared
    # order key (co-partitioned SMJ is the right fact-to-fact plan);
    # percentiles add one per-priority window; the other two are pure
    # conditional aggregates
    # (rank needs an ordered window, the per-priority count an
    # unordered one — Spark emits 2 Window nodes over ONE shuffle)
    "lead_time_percentiles": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    "sla_on_time_rate": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    "lead_time_yearly_trend": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # metrics2: the battery is one bar rollup + ONE lag window (both
    # horizons share a sort) + broadcast of the 5-row scale dim; the
    # hazard mirrors the KM plan (user-key shuffles + tiny windows)
    "forecast_accuracy_battery": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "nelson_aalen_hazard": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    # PMI: unigram/bigram histograms off one corpus scan per side,
    # tiny dims + scalar totals broadcast, a 10-row rank cut at the end
    "pmi_collocations": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 1,
    },
    # econ: the Fisher self-join runs WITHIN the cached (part, year)
    # rollup — the fact is scanned once; RCA margins regroup the cached
    # 150-cell table and broadcast back onto it
    "fisher_price_index": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # (the 4 scans are the CACHED cell plan's child detail printed
    # once: 1 lineitem + 3 broadcast dims — the fact is scanned once)
    "rca_balassa_index": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 4, "max_window_execs": 0,
    },
    # r8 distribution distances: ONE events scan reduced to the cents
    # support map-side (partial agg); the support frame is CACHED
    # (|distinct cents| rows) so the broadcast totals derive from it
    # instead of re-scanning the fact; the prefix windows run over the
    # aggregate-sized support only (W1 = cumsum + lead -> 2 sort-shared
    # Window nodes; CvM/energy = 1)
    "wasserstein_value_drift": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "cramer_von_mises_drift": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "energy_distance_drift": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    # r8 matrix profile: one events scan reduced to 4h bars map-side,
    # then ONE FlatMapGroupsInPandas task per series computes the
    # whole profile; motif/discord add a per-series rank window
    "matrix_profile_4h": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "motif_top_pair": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "discord_top": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    # r8 inventory: croston = partkey-pruned scan (pushed filter) ->
    # (part, day) cells -> one fold task per part; the brand rows are
    # two-level aggs over ONE lineitem-orders keyed join (SMJ on the
    # order key is the co-partitioned plan) with a broadcast part dim;
    # EOQ's span leg re-scans a 1-column projection (scalar, broadcast)
    "croston_forecast": {
        "must": ["partial_", "FlatMapGroupsInPandas",
                 "LessThanOrEqual(l_partkey,20)"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "safety_stock_reorder_point": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 3, "max_window_execs": 0,
    },
    "eoq_order_quantity": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3, "max_window_execs": 0,
    },
    "xyz_demand_variability": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 3, "max_window_execs": 0,
    },
    # r8 MCDA: skyline = ONE dim scan + one sort shared by both range-
    # frame prefix maxes (the O(n log n) 2D-skyline plan — never the
    # BNL dominance self-join); borda = one keyed fact pass to 25 stat
    # rows, rank windows over those; topsis = cached supplier stats +
    # 1-row broadcast norm/ideal legs + one rank window
    "skyline_parts": {
        "must": [],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "borda_brand_ranking": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 3, "max_window_execs": 4,
    },
    "topsis_supplier_ranking": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    # r8 scorecard: contingency-table reductions map-side; somers
    # reuses the kendall cached-cells broadcast self-join shape; the
    # brier bins ride the eval family's one-scan backtest base
    "woe_iv_discount_returns": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "WindowExec"],
        "max_scans": 2, "max_window_execs": 0,
    },
    "somers_d_qty_returns": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "brier_decomposition": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # r8 privacy: one map-side aggregation each; the noise draw /
    # response flip are per-row expressions in the same pass — the
    # mechanism must cost nothing over the non-private rollup
    "dp_histogram_laplace": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "randomized_response_share": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r8 classical forecasts: one events scan to (series, day) bars
    # map-side; SES/theta are one fold task per series, drift is pure
    # aggregation (no python at all)
    "ses_forecast_per_series": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "theta_method_per_series": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "drift_forecast_per_series": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join",
                "FlatMapGroupsInPandas"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r8 changepoint: prefix sums + candidate gains + rank are window
    # algebra over the bar reduction — NO python anywhere; the second
    # split joins the tiny best-split row back (broadcast) and re-runs
    # the same windows once; window-node count: prefix pass (ordered +
    # unordered frames) + rank = 3-4, second split doubles it
    "binseg_mean_split": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "FlatMapGroupsInPandas"],
        "max_scans": 1, "max_window_execs": 4,
    },
    "binseg_second_split": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "FlatMapGroupsInPandas"],
        "max_scans": 2, "max_window_execs": 9,
    },
    "level_shift_t_stat": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "FlatMapGroupsInPandas"],
        "max_scans": 1, "max_window_execs": 4,
    },
    # r8 dedup eval: one CACHED shingling feeds candidates + truth +
    # counts; band/shingle self-joins are keyed (SMJ is the
    # co-partitioned plan there); the three count legs are 1-row
    # broadcasts
    "blocking_quality_report": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_window_execs": 0,
    },
    # r8 audio: doc_id-pruned scan (pushed filter, 1-column ReadSchema)
    # into ONE mapInPandas stage — synth + real codec round-trip never
    # leave the worker
    "audio_wav_roundtrip_features": {
        "must": ["MapInPandas", "PushedFilters: [IsNotNull(doc_id), "
                 "LessThan(doc_id,100)]", "ReadSchema: struct<doc_id:bigint>"],
        "not": ["CartesianProduct", "Join", "WindowExec"],
        "max_scans": 1,
    },
    # r8 estimation: map-side reductions, 1-row closed forms, no joins
    "gumbel_return_level": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join",
                "FlatMapGroupsInPandas"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "horvitz_thompson_total": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "lincoln_petersen_users": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r8 PQ/ADC+R: the scan side carries ONLY the 16 code ints; query
    # distance tables broadcast into a BNLJ (the compressed-domain
    # linear scan, same sanctioned shape as knn_cosine_bruteforce);
    # three rank windows — r15's two-phase ADC shortlist (salted
    # per-bucket top-k, then per-query top-k) and the exact re-rank
    "pq_adc_topk": {
        "must": ["BroadcastNestedLoopJoin", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
        "max_window_execs": 3,
    },
    # r8 sequential: SPRT = bounded ordered head (limit pushdown) +
    # one prefix window + one rank window; OBF = per-user reduction
    # re-aggregated through a 5-row broadcast inequality join (BNLJ
    # on a literal side is the sanctioned shape)
    "sprt_purchase_rate": {
        "must": [],  # pure window walk — no aggregation anywhere
        "not": ["CartesianProduct", "SortMergeJoin", "Join",
                "FlatMapGroupsInPandas"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "obrien_fleming_looks": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r8 seqpred: ONE fact pass (lead window) reduces to the cached
    # (period, src, dst) count table; model/baseline/scoring/train
    # totals all derive from those ~50 rows (windows: 1 lead + 2 rank)
    "markov_next_event_accuracy": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 3,
    },
    # r9 OR: newsvendor = demand rollup + one rank window (exact
    # integer rank); erlang/kingman = session reduction (2 windows:
    # gap-mark + session cumsum share a sort; kingman adds the global
    # inter-arrival lag) feeding 1-row closed forms
    "newsvendor_order_quantile": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    # (the 1-row span frame rides a broadcast nested-loop join — the
    # scalar-broadcast idiom, so only cartesian/SMJ are forbidden;
    # kingman adds the global inter-arrival lag on top of the two
    # session windows and their plan-split sorts: 5 nodes observed)
    "erlang_b_blocking": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    "kingman_wait_estimate": {
        # r14 shape: the span and the ≤64 per-bucket gap moments are
        # collected at build and merged driver-side as exact integers,
        # so the audited plan is the 1-row moment local relation; no
        # self-join and no unpartitioned lag window may reappear
        "must": [],
        "not": ["CartesianProduct", "Join", "Window"],
        "max_scans": 0, "max_window_execs": 0,
    },
    # r10 funnel: every step is a user-keyed partial-agg + equi-join —
    # never a cartesian; windows appear only where ranks/shares demand
    # (abandonment: last-event rank + share-of-total; latency: rank +
    # global count)
    "funnel_abandonment_profile": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_window_execs": 2,
    },
    "funnel_conversion_7d": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_window_execs": 0,
    },
    "funnel_latency_quantiles": {
        # r13 shape: ONE distributed pass reduces the stream to the
        # |distinct whole-second latencies| histogram; the two order
        # statistics are read off the COLLECTED histogram driver-side
        # (bounded-collect idiom) — ZERO windows; the |converters|-row
        # rank window must not reappear. The audited plan is the final
        # 1-row local relation (the histogram job runs eagerly at
        # build time, like hybrid_rrf's BM25 cut).
        "must": [],
        "not": ["CartesianProduct", "Window"],
        "max_window_execs": 0,
    },
    "funnel_daily_cohorts": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_window_execs": 0,
    },
    # r10 survival: two user-keyed shuffles then everything runs on the
    # <=73-row risk frame; the estimator windows are global-ordered over
    # that tiny frame (plan-split across cumulative/rank orders)
    "logrank_signup_cohorts": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_window_execs": 3,
    },
    "rmst_signup_72h": {
        "must": ["partial_"],
        "not": ["CartesianProduct"],
        "max_window_execs": 4,
    },
    # r10 profile: single-pass aggregations; entropy runs one ordered
    # window per column (4 columns -> 4 plan-split window pairs)
    "table_profile_orders": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "categorical_entropy_profile": {
        # one ordered cumulative window per column (H = ln n − Σc·lnc/n
        # folds counts, k and the entropy sum into a single window spec)
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 4,
    },
    "histogram_totalprice_profile": {
        # min/max scalar broadcasts via BroadcastNestedLoop (the
        # scalar-broadcast idiom); bucketing is one partial agg
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # r10 candles: tick stream collapses to bars under two rank windows
    # sharing the (event_type, day) partitioning; pattern lags ride the
    # tiny bar frame
    "candlestick_patterns_daily": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 3,
    },
    "gap_days_analysis": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 3,
    },
    "pivot_point_levels": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 3,
    },
    # r10 bandit: one aggregation + a 1-row scalar broadcast
    "ucb1_arm_scores": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "beta_posterior_arms": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r10 LTV: purchases shuffle once on user_id; cells collapse to
    # <=25 rows before the per-cohort cumulative window; sizes broadcast
    "ltv_cohort_curves": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "arpu_daily": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "cohort_payback_week": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    # r10 graph metrics: the fact join reduces to the <=300-row pair
    # frame (cached); wedge/edge joins broadcast on that frame
    "local_clustering_coefficient": {
        "must": ["InMemoryTableScan"],
        "not": ["CartesianProduct"],
    },
    "rich_club_coefficients": {
        "must": ["InMemoryTableScan", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
    },
    # r11 forensic: digit extraction is JVM expression, one
    # count-by-digit partial agg, chi2 over a <=10-row window
    "cents_digit_uniformity": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "round_price_bias": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # r11 long-memory: one rank window over the tick stream, block
    # rollup, then tiny frames (sizes ladder broadcasts; the R/S
    # average + pivot and the VR sums each add ordered windows over
    # <=|series|x|sizes| / <=|days| rows)
    "hurst_rs_per_series": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "variance_ratio_test": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # --- r12 families ---
    # risk3: one daily rollup + (returns lag window | running-peak
    # window) + a 5-group moment aggregate; never a join
    "omega_ratio_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "kelly_fraction_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "ulcer_index_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    # statefilter: one rollup shuffle into the applyInPandas fold
    "kalman_level_daily": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1,
    },
    "kalman_innovation_summary": {
        "must": ["partial_", "FlatMapGroupsInPandas"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1,
    },
    # outlier2: exact-percentile passes re-reference the cached/derived
    # bar frame; the 3 unrolled ESD rounds are broadcast joins + anti-
    # joins over ~150 bar rows (InMemoryTableScan from the cache)
    "modified_zscore_outliers": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
    },
    "generalized_esd_stats": {
        # r14 shape: the ≤200k (type, day) bars are collected once and
        # the 3 ESD rounds run driver-side; the audited plan is the
        # sorted local relation of per-round statistics
        "must": [],
        "not": ["CartesianProduct", "Join"],
        "max_scans": 0, "max_window_execs": 0,
    },
    # ordinal: two lead taps + one pattern groupBy over ONE (type, hour)
    # window partitioning; entropy adds the per-type share window
    "ordinal_pattern_histogram": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "permutation_entropy_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # isotonic: user rollup -> broadcast thresholds (one extra users
    # pass, the modified_zscore two-quantile-pass precedent) -> CACHED
    # <=10 bin rows -> broadcast-nested-loop triple self-join for the
    # minimax range conditions (BNLJ is the right operator for j<=i/k>=i
    # over a broadcast 10-row side)
    "isotonic_conversion_curve": {
        "must": ["partial_", "BroadcastNestedLoopJoin",
                 "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "isotonic_fit_summary": {
        "must": ["partial_", "BroadcastNestedLoopJoin",
                 "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # cattests: one user rollup; CA adds the broadcast quintile
    # thresholds
    "mcnemar_purchase_weeks": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # (two scans: the quintile-threshold pass over the user rollup +
    # the scoring pass — the repo's exact-percentile precedent)
    "cochran_armitage_trend": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # cointegration: bar self-join on date is broadcast (tiny daily
    # frame); residual lag rides one (pair ordered by date) window
    "engle_granger_pairs": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "spread_half_life": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    # gof: returns lag window + moment aggregates; runs test adds the
    # broadcast median join and the sign-lag window
    "jarque_bera_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "runs_test_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # keyness: ONE (source, word) pre-aggregation; totals as partitioned
    # window sums + a broadcast scalar cross join; top-5 rank windows
    "dunning_g2_terms": {
        "must": ["partial_", "Generate", "BroadcastNestedLoopJoin",
                 "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "log_odds_ratio_terms": {
        "must": ["partial_", "Generate", "BroadcastNestedLoopJoin",
                 "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # textdiversity: single tagged-gram generator scan; burstiness ends
    # in TakeOrderedAndProject (global top-k without a rank window)
    "distinct_ngram_ratios": {
        "must": ["partial_", "Generate"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # ranktests: ONE per-distinct-cents aggregation; the rank cumsum is
    # a deliberately-global window over the DOMAIN-bounded distinct-
    # value frame (|distinct cents|, independent of row count)
    "mann_whitney_value": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "cliffs_delta_value": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 1,
    },
    # tails: top-(k+1) rank window per type + broadcast kth join; mean
    # excess re-scans for the discrete-quantile support pass (the
    # _qdisc precedent)
    "hill_tail_index": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "tail_mean_excess": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # embeddiag: bounded-sample all-pairs (BNLJ over the broadcast
    # 512-row side is the DESIGNED quadratic) + one rank window; the
    # hubness row adds the left join back to the sample ids
    "intrinsic_dimension_twonn": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    "knn_hubness_skew": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 1,
    },
    # regdiag: moment pass + residual pass (coefficients broadcast
    # back) — two map-side scans by design; Cook's ends in the top-k
    "breusch_pagan_test": {
        "must": ["partial_", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # (Cook's deliberately re-scans the 4-column lineitem projection
    # per aggregate pass instead of caching a fact-sized residual frame
    # — the spearman precedent: map-side scans beat caching 6M rows)
    "cooks_distance_top": {
        # r14 shape: the moment and RSS aggregates are collected at
        # build into 1-row local relations, so the audited plan is one
        # lineitem scan crossed with the two broadcast rows, then top-k
        "must": ["BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # grangerccf: one lag window over the daily return frame, pair/lag
    # date joins broadcast (tiny frames); moments are map-side partials
    "granger_causality_pairs": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "ccf_purchase_view": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_window_execs": 2,
    },
    # archtest: one daily rollup, one (type ordered by date) window
    # (ARCH lag / all five ACF lead taps share the sort); moments are
    # 5-group partials
    "arch_lm_test": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    "squared_return_acf": {
        "must": ["partial_", "Generate"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # partialcorr: ONE map-side moment scan, no joins, no windows
    "partial_correlation_qpd": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    "vif_regressors": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 0,
    },
    # pagehinkley: one rollup; running mean / cumsum / running min /
    # peak rank all ride (type ordered by date) partitionings
    "page_hinkley_drift": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 4,
    },
    # reliability: orders|x|lineitem SMJ on the shared order key is the
    # co-partitioned fact-to-fact plan (the lead_time family precedent);
    # one rank window per priority + map-side moment partials
    "weibull_mrr_fit": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 2, "max_window_execs": 2,
    },
    # blockranks: one rollup; within-day count + rank windows share
    # the per-date partitioning; everything after is tiny aggregates
    "friedman_test_daily": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 3,
    },
    "kendalls_w_concordance": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 3,
    },
    # (second scan is the n_docs count(*) — parquet metadata only)
    "token_burstiness": {
        "must": ["partial_", "Generate", "TakeOrderedAndProject"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2, "max_window_execs": 0,
    },
    # --- r15 families (round 9) ---
    # hjorth/crest: one events scan -> daily rollup; the return lag and
    # the two diff lags ride the same (type, date) partitioning but the
    # prev>0 filter between them splits the Window nodes (no re-shuffle)
    "hjorth_params_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 3,
    },
    "crest_zcr_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # sampen: cached window-decorated return frame fans out to the
    # tolerance agg + both self-join legs (one events scan); the pair
    # join is an equi-join on event_type over a broadcast-sized frame
    "sample_entropy_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "katz_petrosian_fd": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # spatial: cached 25-row nation frame (one customer scan + broadcast
    # nation dim); the 1-row global-moment attach is the blessed
    # crossJoin(broadcast(scalar)) BNLJ idiom
    "morans_i_nation_balance": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "local_moran_nation": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # clusterval: one customer + one orders scan (globals derive from the
    # cached k=5 cluster moments); DB's centroid pair join is 5x5 on the
    # broadcast moment frame
    "calinski_harabasz_segments": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "davies_bouldin_segments": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # seqinfo: transition counts off one user-key window pass; entropy
    # windows ride the |types|² aggregate. fano derives spine+bounds
    # from the cached (type, hour) count aggregate — one events scan
    "markov_entropy_rate": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 3,
    },
    "fano_factor_by_type": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # --- r16 families (round 9, second batch) ---
    # perfratios: one cached daily-bars frame feeds per-type + benchmark
    # return legs; the date attach is a ~30-row broadcast
    "information_ratio_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "treynor_m2_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    # spectral: the DFT term frame is a type-keyed equi-join between the
    # cached indexed returns and the k-spine — days²/2 rows, bounded
    "spectral_entropy_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "band_power_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    # inequality: orders⋈customer equi-join (SMJ co-partitioned is fine
    # at scale, broadcast under the sf0.01 threshold), nation/region
    # broadcast — 4 single scans; decomposition reuses the cached rm
    "theil_atkinson_by_region": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "max_scans": 4,
    },
    "theil_decomposition": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_scans": 4,
    },
    # sax: cached daily bars -> moment attach + symbol cut; bigrams add
    # one lead window on the (type, date) partitioning
    "sax_symbol_histogram": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "sax_bigram_motifs": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # hopkins: knn_cosine_bruteforce design — 40 probes broadcast (the
    # BNLJ is the self-exclusion/unconditional probe join), point set
    # streams once; customer+orders scanned once each
    "hopkins_statistic": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    "nn_distance_sample": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 2,
    },
    # --- r17 families (round 9, third batch) ---
    # riskmore: the perfratios cached-bars/benchmark-attach shape, or a
    # pure window pass (tail ratio needs no join at all)
    "updown_capture_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "pain_martin_by_type": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "tail_ratio_by_type": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 3,
    },
    # structbreak: chow is one co-partitioned lineitem⋈orders pass plus
    # a 1-row span broadcast (the second orders scan is min/max only);
    # cusum caches the return frame so events scans once
    "chow_test_price_qty": {
        "must": ["partial_", "BroadcastHashJoin"],
        "not": ["CartesianProduct"],
        "max_scans": 3,
    },
    "cusum_squares_break": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    # wavelet: the cascade caches l1/l2 so the 3-level energy union
    # reads events once; top-details is l1 + one rank window
    "haar_energy_levels": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1,
    },
    "haar_top_details": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # stump: stack-unpivot -> ONE lineitem scan feeds both features'
    # value counts; all candidate splits from one cumulative window
    "decision_stump_gain": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 3,
    },
    "stump_gain_curve": {
        "must": ["partial_"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1, "max_window_execs": 2,
    },
    # --- r18 families (round 9, fourth batch) ---
    # multipletest: cached return frame -> date-keyed self-join (10
    # pairs); BH/Holm step windows run over 10 rows
    "pairwise_sign_tests_fdr": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "holm_adjusted_sign_tests": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    # resample: cached indexed returns; the md5 spine joins back on
    # (type, pos) — B·n rows, calendar-bounded
    "bootstrap_ci_mean_return": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "signflip_permutation_test": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    # ebayes/power: cached cents frame (one orders/customer/nation scan
    # each) -> exact-median rank window -> 25-row rates; the 1-row
    # median/prior attaches are the blessed broadcast-scalar BNLJ
    "beta_posterior_rates": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    "eb_shrunk_rates": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    "ab_sample_size_plan": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    "mde_at_current_n": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 3,
    },
    # editdist: cached 64-doc md5 sample; the 2016-pair frame is the
    # broadcast candidates-only verify shape (the BNLJ IS the bounded
    # pair join, never corpus-wide)
    "editdist_near_pairs": {
        "must": ["InMemoryTableScan", "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1, "max_window_execs": 1,
    },
    "editdist_histogram": {
        "must": ["partial_", "InMemoryTableScan",
                 "BroadcastNestedLoopJoin"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    # --- r19 families (round 9, fifth batch) ---
    # graphqual: ONE pass through the 6-table fact join builds the
    # cached ≤625-edge frame (large-large legs co-keyed — SMJ there is
    # the correct plan); partition math reduces the edge list
    "modularity_regions": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_scans": 6,
    },
    "trade_assortativity": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_scans": 6,
    },
    # chainorder: cached transition counts (one events scan) + tiny
    # margin joins; the halves drift full-outer-joins two 25-row frames
    # (SMJ is irrelevant at that size and unavoidable for full outer)
    "markov_order_lr_test": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "chain_halves_drift": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct"],
        "max_scans": 2,
    },
    # smoothing: one corpus scan -> cached count-of-counts; the offset
    # lookup is a self-join on the tiny N_r frame
    "good_turing_counts": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin"],
        "max_scans": 1,
    },
    "unseen_mass_estimate": {
        "must": ["partial_", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin", "Join"],
        "max_scans": 1,
    },
    # bradleyterry (r15 shape): ONE job collects the directed win
    # counts and the MM iterations run driver-side, so both rows audit
    # as a sorted local relation with no scan and no join
    "bt_strengths": {
        "must": [],
        "not": ["CartesianProduct", "Join"],
        "max_scans": 0,
    },
    "bt_win_matrix": {
        "must": [],
        "not": ["CartesianProduct", "Join"],
        "max_scans": 0,
    },
    # texteval: one corpus scan -> cached 64-doc sample -> rank-adjacent
    # pairs; overlaps are grouped min-sums on (pair, gram)
    "rouge_doc_pairs": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
    "bleu_doc_pairs": {
        "must": ["partial_", "BroadcastHashJoin", "InMemoryTableScan"],
        "not": ["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
        "max_scans": 1,
    },
}


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark("explain_audit")
    import __spark_entry__ as entry_mod

    expect = dict(EXPECT)
    qs = entry_mod.queries()
    # FLOOR audit for every registered row WITHOUT an explicit
    # expectation (r10: 91 of 428 had none, so a catastrophic plan —
    # cartesian product, row-at-a-time Python UDF, unbounded scan
    # fan-out — in those rows was invisible to this tool).  The floor is
    # deliberately loose: it exists to catch plan DISASTERS, not to
    # pin design; rows wanting tighter pins get explicit entries.
    # BatchEvalPython is the non-Arrow per-row Python UDF operator;
    # Arrow seams (ArrowEvalPython / FlatMapGroupsInPandas /
    # MapInPandas) stay allowed.
    floor = {"must": [], "not": ["CartesianProduct", "BatchEvalPython"],
             "max_scans": 8}
    for name in qs:
        if name not in expect:
            expect[name] = floor
    sf_dir = "/root/testdata/sf0.01"
    failures = 0
    for name, exp in expect.items():
        if only and name not in only:
            continue
        if name not in qs:
            # a stale/typo'd expectation key — fail
            # LOUDLY so a renamed query can't silently lose its audit
            print(f"FAIL {name}: expectation key not in the registry")
            failures += 1
            continue
        # hermetic per-row plans: cached frames from EARLIER audited rows
        # otherwise substitute into this row's plan (CacheManager matches
        # canonicalized fragments), and each distinct InMemoryRelation
        # prints its rebuild-path scan — the formatted scan count then
        # depends on session order, not on the row's own plan (r10: the
        # perfratios family "grew" a second events scan only when ~340
        # rows ran first, because another family had cached a
        # returns-shaped fragment)
        spark.catalog.clearCache()
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        probs = []
        for s in exp.get("must", []):
            if s not in plan:
                probs.append(f"missing: {s}")
        for s in exp.get("not", []):
            if s in plan:
                probs.append(f"forbidden: {s}")
        if "max_window_execs" in exp:
            # formatted mode names the operator "(N) Window" in the detail
            # section (one entry per node); "Window [" never appears, which
            # made this assertion vacuous until round 4 — count the detail
            # entries, excluding WindowGroupLimit (a rank-pushdown helper,
            # not a sort pass)
            n = len(re.findall(r"\(\d+\) Window\b", plan))
            if n > exp["max_window_execs"]:
                probs.append(f"{n} WindowExec nodes (max {exp['max_window_execs']})")
        # scan width: ReadSchema column count for parquet scans
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widths = [len(s.split(",")) if s else 0 for s in scans]
        if "max_scans" in exp and len(scans) > exp["max_scans"]:
            probs.append(f"{len(scans)} table scans (max {exp['max_scans']})")
        # under AQE the pre-execution plan hides codegen stage markers;
        # report AQE + exchange count instead (shuffle budget per query)
        n_exchange = plan.count("Exchange")
        aqe = "AdaptiveSparkPlan" in plan
        status = "FAIL" if probs else "OK  "
        if probs:
            failures += 1
        print(f"{status} {name}: scans={widths} exchanges={n_exchange} aqe={aqe}")
        for p in probs:
            print(f"      {p}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
