"""Headline timing sweep: ``python bench.py [--full] [sf_dir]`` runs the
headline queries at ``sf_dir`` (default: the sf0.1 test data) on one
session and prints ONE JSON line {"metric", "value", "unit", "queries",
"sf", "sf_dir", "n_queries", "order", "cpus"}; it writes no file.

``--full`` times EVERY registered query instead of the headline list, by
default at sf0.01, so a pathological plan in the unbenched tail cannot
hide behind the headline sample.

A fixed warm-up set (``warm_up``: one batch query for JVM/JIT, one
applyInPandas for the Python-worker pool, one availableNow stream for the
micro-batch engine) absorbs session start-up; each query is then timed on
a single steady-state run (what a long-lived cluster sees). ``--full``
sweeps in ALPHABETICAL order so each cell keeps a stable sweep position as
the registry grows. ``run_once`` and ``warm_up`` are the one timing path:
tools/time_queries.py and tools/measure_scaling.py import them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ccirecommenderdatapipeline_spark import plans  # noqa: E402
from ccirecommenderdatapipeline_spark.session import build_jobs, get_spark, run_tasks  # noqa: E402

# Headline queries: the flagship pipeline stages + the north-star
# training-data operators at the same scale factor.
HEADLINE = [
    "prices",
    "cci",
    "buy_signals",
    "signal_counts",
    "latest_cci",
    "trades_sim",
    "strategy_agg",
    "best_return",
    "best_return_full_grid",  # the reference's full 4,860-combo workload
    "pareto_strategies",         # 2-D skyline over the strategy grid (r7;
                                 # scheduled here so the plan-matched
                                 # agged_view cache is warm — a pipeline
                                 # runs the selection family together)
    # --- text/dedup family, scheduled ADJACENT so each query runs with
    # its plan-matched cache producers warm (VERDICT r7 item 6: the same
    # grouping that took pareto_strategies 23.5s -> 1.96s; a real pipeline
    # runs the dedup sweep as one stage, so warm shared token/shingle
    # subtrees are the representative condition, not an artifact) ---
    "text_stats",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "winnowing_dedup",           # MOSS per-window-min fingerprint dedup (r4)
    "dedup_containment",         # asymmetric-containment near-dup (r5)
    "dedup_simhash_hamming",     # banded-pigeonhole SimHash near-dup (r7)
    "semantic_dedup",            # SemDeDup centroid-blocked pairs (r4)
    "boilerplate_ngram_scrub",   # corpus-frequency chunk scrub (r7)
    "knn_brute_force",
    "knn_ivf",                   # the ANN scale path next to its baseline
    "session_windows",
    "quality_filtered_corpus",   # quality gates + dedup composition (r2)
    "interval_join_attribution", # event-time interval join (r2)
    "gap_fill_daily",            # calendar densification + forward fill (r2)
    "tpch_q1",                   # scan-heavy pricing summary (r3)
    "tpch_q5",                   # six-table snowflake join chain (r3)
    "funnel_analysis",           # sequential-stage event funnel (r3)
    "bm25_search",               # inverted-index lexical ranking (r3)
    "tpch_q21",                  # EXISTS/NOT-EXISTS semi+anti cascade (r4)
    "cluster_margin",            # broadcast-centroid embedding scoring (r4)
    "cdc_apply",                 # CDC merge: upserts + tombstones (r4)
    "entity_resolution_qgram",   # prefix-filtered ER scale path (r4)
    "training_order_shuffle",    # two-phase seeded global order (r4)
    "bigram_perplexity",         # corpus LM scoring chain (r4)
    "cogroup_asof",              # COGROUP searchsorted as-of join (r5)
    "training_pipeline",         # end-to-end train-file prep chain (r5)
    "ann_recall_eval",           # sampled IVF recall eval harness (r5)
    "embedding_covariance",      # (dim,dim) cross-moment shuffle (r7)
    "interval_merge",            # overlapping-interval island merge (r7)
    "pca_power_iteration",       # D-sized iterative matvec jobs (r7)
    "feature_binning",           # two-phase bucketed exact NTILE (r7)
    "token_budget_selection",    # two-phase running-sum budget draw (r7)
    "weighted_sample_wr",        # A-ES weighted draw w/o replacement (r7)
    "cms_term_freq",             # Count-Min sketch frequencies (r7)
    "corpus_drift_kl",           # per-source KL drift telemetry (r7)
    "embedding_truncation_recall",  # matryoshka retrieval eval (r7)
    "cube_grouping_battery",     # CUBE + grouping_id battery (r7)
    "market_basket_pairs",       # A-priori pair pass w/ lift (r7b)
    "item_item_cosine",          # item-item CF neighbor lists (r7b)
    "brand_transition_matrix",   # Markov purchase sequences (r7b)
    "decayed_popularity",        # dyadic-exact recency prior (r7b)
    "reco_candidates",           # recall-stage candidate gen (r7b)
    "ndcg_eval",                 # temporal-split ranking eval (r7b)
    "triangle_count_oriented",   # degree-oriented triangles (r7b)
    "logreg_gd_step",            # full-batch GD allreduce shape (r7b)
    "target_encoding_loo",       # leakage-free LOO encoding (r7b)
    "rendezvous_sharding",       # HRW placement telemetry (r7b)
    "ab_test_zscore",            # two-proportion experiment readout (r7b)
    "reco_coverage_gini",        # exposure coverage + Gini audit (r7b)
    "logreg_calibration_bins",   # reliability diagram + ECE (r7b)
    "conformal_calibration",     # split-conformal coverage (r7b)
    "info_gain_features",        # ID3 info-gain feature ranking (r7b)
    "fairness_metrics",          # subgroup parity/odds audit (r7b)
    "propensity_ipw",            # IPW treatment effect + ESS (r7b)
    "dp_noisy_counts",           # Laplace-mechanism release rig (r7b)
    "length_bucket_batching",    # padding-waste bucket telemetry (r7b)
    "ivm_aggregate_merge",       # base⊎delta IVM merge == recompute (r7b)
    "als_item_step",             # closed-form ALS item half-step (r7b)
    "quantile_normalize_sources",  # cross-source quantile map (r7b)
    "kaplan_meier_survival",     # censored time-to-repeat KM curve (r7b)
    # --- r7 tail (bench backfill, VERDICT r7 item 2/3) ---
    "mmr_rerank",                # decimal-exact MMR diversity rerank (r7b)
    "map_mrr_eval",              # MRR / AP@5 / hits@5 eval trio (r7b)
    "negative_sampling",         # md5-draw implicit negatives (r7b)
    "ivm_join_merge",            # delta-join IVM rule terms (r7b)
    "ols_trend",                 # sufficient-statistic OLS per symbol (r7b)
    "bfs_hops",                  # frontier-join BFS levels (r7b)
    "pmi_collocations",          # rational-lift collocation top-100 (r7b)
    "feature_hashing",           # hashing-trick sparse vectors (r7b)
    "connected_components",      # large/small-star contraction (r7b)
    "rfm_segmentation",          # two-phase quintile segments (r7b)
    "jl_projection",             # frozen Rademacher 64->8 sketch (r7b)
    "stream_hll_merge",          # streaming HLL register merge (r7b)
    # --- round 8 ---
    "stream_ivm_aggregate",      # versioned streaming IVM view (r8)
    "quantile_sketch_merge",     # mergeable MRL quantile summary (r8)
    "weighted_median",           # two-phase exact weighted quartiles (r8)
    "vocab_build",               # frequency-cutoff vocab + coverage (r8)
    "bandit_replay_eval",        # off-policy replay argmax eval (r8)
    "sssp_weighted",             # Bellman-Ford relaxation joins (r8)
    "changepoint_sse",           # prefix-sum SSE changepoint (r8)
    "walk_forward_eval",         # rolling-origin backtest folds (r8)
    "markov_stationary",         # ordered-fold power iteration (r8)
    "kcore_decomposition",       # iterative peel to fixed point (r8)
    "decile_lift_table",         # descending-rank gains table (r8)
    "benford_audit",             # first-digit fraud screen (r8)
    "record_survivorship",       # golden-record field rules (r8)
    "psi_feature_drift",         # binned PSI drift gate (r8)
    "k_anonymity_audit",         # QI class-size release gate (r8)
    "linucb_step",               # contextual-bandit ridge step (r8)
    "assortativity_degree",      # endpoint-degree Pearson (r8)
    "clustering_coefficient",    # per-node oriented triangles (r8)
    "link_prediction_jaccard",   # common-neighbor wedge scores (r8)
    "isotonic_calibration",      # PAV minimax on score bins (r8)
    "decision_stump",            # histogram split scan (r8)
    "naive_bayes_classify",      # bounded-vocab NB train+eval (r8)
    "chi2_feature_selection",    # token-language contingency filter (r8)
    "acf_lags",                  # per-symbol autocorrelation (r8)
    "bootstrap_mean_ci",         # Poissonized bootstrap interval (r8)
    "apriori_triples",           # candidate-pruned frequent triples (r8)
    "spatial_grid_join",         # grid-blocked radius self-join (r8)
    "rank_fusion_rrf",           # hybrid-search rank fusion (r8)
    "hll_set_intersection",      # sketch union-merge + incl-excl (r8)
    "mann_whitney_u",            # nonparametric rank-sum test (r8)
    "em_gmm_step",               # soft-clustering EM step (r8)
    "welch_t_test",              # parametric two-sample test (r8)
    "kruskal_wallis",            # k-group rank ANOVA (r8)
    "roc_auc_eval",              # rank-statistic AUC/Gini (r8)
    "jaccard_prefix_filter_join",  # exact prefix-filter similarity join (r8)
    "phrase_search_positions",   # positional-index phrase search (r8)
    "oov_rate_eval",             # frozen-vocab OOV coverage (r8)
    "hits_hubs_authorities",     # integer-exact HITS power iteration (r8)
    "theil_sen_slope",           # robust pairwise-median trend (r8)
    "cooccurrence_window_weighted",  # GloVe X-matrix builder (r8)
    "bloom_semi_join_pushdown",  # runtime-filter join pruning (r8)
    "char_entropy_quality",      # map-only entropy quality gate (r8)
    "markov_attribution",        # removal-effect chain attribution (r8)
    "join_cardinality_estimate",  # CBO histogram estimate + q-error (r8)
    "gbdt_boost_round",          # histogram-GBDT boosting rounds (r8)
    "ks_test",                   # exact-argmax KS drift test (r8)
    "rank_biased_overlap",       # top-weighted ranker agreement (r8)
    "ohlc_resample_weekly",      # weekly OHLCV downsample bars (r8)
    "sharpe_sortino_daily",      # risk-adjusted return readout (r8)
    # --- round 9 ---
    "stream_psi_drift",          # streaming frozen-edge PSI gate (r9)
    "stream_ks_drift",           # streaming binned-KS gate (r10)
    "dedup_exact_substring",     # verbatim duplicated-span extraction (r10)
    # --- round 11 ---
    "stream_tws_user_stats",     # transformWithStateInPandas via wire shim (r11)
]


def run_once(spark, name: str, sf_dir: str) -> tuple[float, int, int]:
    """Build and execute one registered query with the noop sink; seconds,
    the Spark jobs the build ran before execution (``build_jobs``) and the
    tasks the execution ran (``run_tasks``; a streaming cell runs its
    stream while building, so its tasks are not in this count)."""
    t0 = time.perf_counter()
    df, jobs = build_jobs(spark, lambda: plans.QUERIES[name](spark, sf_dir))

    def execute() -> float:
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    secs, tasks = run_tasks(spark, execute)
    return secs, jobs, tasks


def warm_python_workers(spark) -> None:
    """One mapInPandas task per core, so each core's pandas worker is
    forked before the first timed cell (a long-lived cluster's workers are
    resident; forking one per core that each import pandas is start-up
    cost, not query cost). The range has no shuffle for AQE to coalesce
    into one task."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, numPartitions=n).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str, streaming: bool) -> None:
    """The fixed warm-up set every timing tool pays before its first
    timed cell, so session start-up lands on no query:

    - one batch query for JVM class loading and JIT;
    - ``warm_python_workers`` for the Python-worker pool;
    - with ``streaming``, the cheapest availableNow stream: the first
      streaming query of a session also pays state-store / micro-batch
      engine class loading (~1-2 s), which would otherwise land on
      whichever stream_* cell runs first.
    """
    run_once(spark, "cci", sf_dir)
    warm_python_workers(spark)
    if streaming:
        run_once(spark, "stream_dedup_watermark", sf_dir)
    spark.catalog.clearCache()


def main() -> None:
    full = "--full" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--full"]
    if argv:
        sf_dir = argv[0]
    elif full:
        sf_dir = "/root/testdata/sf0.01"
    else:
        sf_dir = "/root/testdata/sf0.1"
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:  # path contains 'sf' not followed by a number
        sf = -1.0
    spark = get_spark("bench")
    # --full sweeps in ALPHABETICAL order, NOT registry order: the
    # registry leads with plans._PRIORITY, and a registry-order sweep
    # moves per-family cold start onto whichever names lead it. Headline
    # order is the HEADLINE list (deliberate cache-adjacency grouping).
    names = sorted(plans.QUERIES) if full else HEADLINE
    warm_up(spark, sf_dir, streaming=True)
    timings: dict[str, float] = {}
    # NO clearCache between headline queries: the bench models a
    # long-lived cluster where the persisted cci/agged subtrees are
    # plan-matched-shared across the pipeline stages (that reuse is a
    # designed property, not leakage).
    for name in names:
        timings[name] = round(run_once(spark, name, sf_dir)[0], 3)
        if full:
            # the full sweep runs unrelated families back to back, so
            # accumulated persisted subtrees are noise (and memory
            # pressure), not designed pipeline reuse
            spark.catalog.clearCache()
    print(json.dumps({
        "metric": (
            "all_queries_total_sec" if full else "headline_queries_total_sec"
        ),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sf_dir": sf_dir,
        "n_queries": len(timings),
        # run order, so any cell can be read with its sweep position
        # (cold-start and cache-adjacency context) next to it
        "order": names,
        # core count this sweep ran at, read from the running session
        # (SPARK_GRAFT_MASTER may override SPARK_GRAFT_CPUS)
        "cpus": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
