"""Partitioning-invariance harness: the determinism contract (README §
"Determinism contract") says every oracle-backed query's result multiset is
independent of physical partitioning. Rerun representative queries under
perturbed shuffle-partition and scan-split settings and require identical
value multisets — this is what catches partition-order-dependent
collect_list folds, first/any_value leaks, and unseeded sampling BEFORE the
driver's cross-engine hash does.

The sample covers every determinism-sensitive construct family: ordered
collect_list+aggregate folds (bigram_perplexity, inventory_clamped,
cusum_drift), sorted-fold denominators (corpus_mix), two-phase prefix sums
(training_pipeline), banded LSH pair-gen (dedup_minhash_lsh), grouped
decimal aggs (strategy_agg), inverted-index ranking (tfidf_sql), and
hash-based sampling (train_test_split)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from ccirecommenderdatapipeline_spark.plans import QUERIES
from tests.conftest import SF_SMALL

NAMES = [
    "bigram_perplexity",
    "corpus_mix",
    "training_pipeline",
    "cusum_drift",
    "inventory_clamped",
    "tfidf_sql",
    "dedup_minhash_lsh",
    "strategy_agg",
    "train_test_split",
    # round-5 additions: float-estimator sums (hll), decimal cross-moments
    # (covariance), rounded group means (lloyd), window islands, banded
    # integer LSH
    "hll_distinct",
    "embedding_covariance",
    "kmeans_lloyd_step",
    "interval_merge",
    "dedup_simhash_hamming",
    # round-7b additions: decimal gradient/entropy/Gram sums (gd, ig,
    # als), decimal-selected greedy ranking (mmr), two-phase order
    # statistic (conformal), rank-join quantile map (qnorm), dyadic
    # weight sums (decayed), window top-k off exact ratios (cosine)
    "logreg_gd_step",
    "info_gain_features",
    "als_item_step",
    "mmr_rerank",
    "conformal_calibration",
    "quantile_normalize_sources",
    "decayed_popularity",
    "item_item_cosine",
]


def _normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    return v


def _multiset(df):
    cols = sorted(df.columns)
    return Counter(
        tuple(_normalize(row[c]) for c in cols) for row in df.collect()
    )


@pytest.mark.parametrize("name", NAMES)
def test_result_is_partitioning_invariant(spark, name):
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        # drop cached plans BEFORE each run: several queries persist() shared
        # subtrees, and CacheManager plan-matching would otherwise serve run B
        # from partitions materialized under run A's settings, making the
        # perturbation vacuous below any persist()
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        a = _multiset(QUERIES[name](spark, SF_SMALL))
        # 7 shuffle partitions + 64 KiB scan splits: different task count,
        # different scan order, different merge order everywhere. AQE sizes
        # shuffles (persisted views' too) by bytes, so at this SF run A
        # coalesces nearly every one to a single partition; run B turns
        # coalescing off, or both runs would see the same one partition
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        b = _multiset(QUERIES[name](spark, SF_SMALL))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
    assert a == b, f"{name}: result multiset depends on physical partitioning"
