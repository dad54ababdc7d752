"""Query registry — the driver contract surface.

Importing this package registers every query; ``QUERIES`` / ``ORACLES`` feed
``__spark_entry__.queries()`` / ``oracle_sql()``.
"""

from .registry import QUERIES, ORACLES, query

from . import cci  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import simulator  # noqa: E402,F401
from . import lifecycle  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import storage  # noqa: E402,F401
from . import mllib  # noqa: E402,F401
from . import broker  # noqa: E402,F401
from . import quality  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import tpch2  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import corpus  # noqa: E402,F401
from . import graph  # noqa: E402,F401
from . import warehouse  # noqa: E402,F401
from . import training  # noqa: E402,F401
from . import recommender  # noqa: E402,F401

# Registration order: ``__spark_entry__.queries()`` exposes the registry in
# dict order, and the external driver records correctness rows for the
# FIRST 50 names only. These 50 lead the registry (tests/test_pipeline.py
# pins the count); every other query follows in module-import order.
_PRIORITY = [
    "item_item_cosine", "reco_candidates", "reco_coverage_gini",
    "mmr_rerank", "als_item_step", "ndcg_eval", "map_mrr_eval",
    "ols_trend", "jaccard_prefix_filter_join", "market_basket_pairs",
    "triangle_count_oriented", "connected_components", "sssp_weighted",
    "kcore_decomposition", "assortativity_degree", "clustering_coefficient",
    "link_prediction_jaccard", "hits_hubs_authorities", "dedup_containment",
    "cross_modal_dedup", "cms_term_freq", "brand_transition_matrix",
    "markov_stationary", "pagerank_bipartite", "linear_interpolate",
    "vocab_build", "walk_forward_eval", "weighted_median", "welch_t_test",
    "anti_join", "bloom_semi_join_pushdown", "buy_signals", "cast_battery",
    "cci", "coalesce_bfill", "cross_grid", "date_arith", "dedup_exact",
    "dedup_ngram_jaccard", "doc_fingerprints", "filter_conjunctive",
    "gbdt_boost_round", "join_cardinality_estimate", "json_get_k", "ks_test",
    "lang_id", "latest_cci", "lookup_join", "markov_attribution",
    "ohlc_resample_weekly",
]


def _reorder() -> None:
    ordered = [n for n in _PRIORITY if n in QUERIES] + [
        n for n in QUERIES if n not in _PRIORITY
    ]
    q_snap, o_snap = dict(QUERIES), dict(ORACLES)
    QUERIES.clear()
    QUERIES.update({n: q_snap[n] for n in ordered})
    ORACLES.clear()
    ORACLES.update({n: o_snap[n] for n in ordered if n in o_snap})


_reorder()

__all__ = ["QUERIES", "ORACLES", "query"]
