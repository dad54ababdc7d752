"""Invariants for the co-occurrence / training-step round-7 additions:
market-basket support algebra, cosine neighbor-list shape, gradient-step
replay against a pure-Python fold, and padding-waste accounting."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from ccirecommenderdatapipeline_spark.plans.corpus import (
    LBB_STEP,
    q_length_bucket_batching,
)
from ccirecommenderdatapipeline_spark.plans.recommender import (
    CAND_SAMPLE_MOD,
    CAND_TOP,
    DECAY_CAP,
    MIN_SUPPORT,
    TOP_NEIGHBORS,
    q_brand_transition_matrix,
    q_decayed_popularity,
    q_item_item_cosine,
    q_market_basket_pairs,
    q_reco_candidates,
)
from ccirecommenderdatapipeline_spark.plans.training import (
    GD_LR,
    GD_W,
    q_logreg_gd_step,
)
from tests.conftest import SF_SMALL


def test_market_basket_support_algebra(spark):
    """support = pair_cnt / n_orders exactly; every pair clears the
    fractional threshold; lift = support / (supp_a * supp_b)."""
    rows = q_market_basket_pairs(spark, SF_SMALL).collect()
    assert rows, "threshold filtered everything out at sf0.001"
    # rebuilt inline (raw loads, not the shared order_baskets_view) so
    # the reference counts stay independent of the view under test
    from ccirecommenderdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, SF_SMALL, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = ob.select("ok").distinct().count()
    brand_c = {r["brand"]: r["c"] for r in ob.groupBy("brand").count().withColumnRenamed("count", "c").collect()}
    for r in rows:
        assert r["brand_a"] < r["brand_b"]
        assert r["support"] >= MIN_SUPPORT
        assert r["support"] == round(r["pair_cnt"] / n_orders, 8)
        assert r["conf_a_to_b"] == round(r["pair_cnt"] / brand_c[r["brand_a"]], 8)
        lift = (r["pair_cnt"] * n_orders) / (
            brand_c[r["brand_a"]] * brand_c[r["brand_b"]]
        )
        assert r["lift"] == round(lift, 8)


def test_item_item_cosine_neighbor_lists(spark):
    """<= TOP_NEIGHBORS rows per brand, rnk dense from 1, cosine in (0, 1],
    non-increasing down each neighbor list."""
    rows = q_item_item_cosine(spark, SF_SMALL).collect()
    by_a = defaultdict(list)
    for r in rows:
        by_a[r["brand_a"]].append(r)
    assert by_a, "no neighbor lists produced"
    for a, lst in by_a.items():
        lst.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= TOP_NEIGHBORS
        assert all(0.0 < r["cosine"] <= 1.0 for r in lst)
        assert all(
            lst[i]["cosine"] >= lst[i + 1]["cosine"] for i in range(len(lst) - 1)
        )
        assert all(r["brand_b"] != a for r in lst)


def test_logreg_gd_step_matches_python_fold(spark):
    """Replay the gradient with a pure-Python loop over the same rows using
    the documented rounding schedule; weights must match to 8dp."""
    got = {r["feature"]: r for r in q_logreg_gd_step(spark, SF_SMALL).collect()}
    assert set(got) == {"bias", "f_acctbal", "f_nation"}
    cust = (
        spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .select("c_acctbal", "c_nationkey", "c_mktsegment")
        .collect()
    )
    sums = {"bias": 0.0, "f_acctbal": 0.0, "f_nation": 0.0}
    nll = 0.0
    for r in cust:
        f1, f2 = r["c_acctbal"] / 10000.0, r["c_nationkey"] / 25.0
        y = 1 if r["c_mktsegment"] == "BUILDING" else 0
        z = round(GD_W["bias"] + GD_W["f_acctbal"] * f1 + GD_W["f_nation"] * f2, 9)
        sig = round(1.0 / (1.0 + math.exp(-z)), 10)
        err = sig - y
        sums["bias"] += round(err, 12)
        sums["f_acctbal"] += round(f1 * err, 12)
        sums["f_nation"] += round(f2 * err, 12)
        nll += round(
            -(y * round(math.log(sig), 9) + (1 - y) * round(math.log(1.0 - sig), 9)),
            12,
        )
    n = len(cust)
    for feat, row in got.items():
        grad = round(sums[feat] / n, 8)
        assert abs(row["grad"] - grad) < 1e-7, feat
        assert row["w_old"] == GD_W[feat]
        assert abs(row["w_new"] - round(GD_W[feat] - GD_LR * grad, 8)) < 1e-7
        assert row["n"] == n
        assert abs(row["mean_nll"] - round(nll / n, 8)) < 1e-7
    # a step along -grad must not increase the (convex) objective by much;
    # sanity: gradient isn't all-zero and nll is positive
    assert got["bias"]["mean_nll"] > 0
    assert any(abs(r["grad"]) > 0 for r in got.values())


def test_length_bucket_batching_accounting(spark):
    """Buckets tile the length axis at LBB_STEP granularity; per-bucket
    waste and the global padded-cell identity both close exactly."""
    rows = q_length_bucket_batching(spark, SF_SMALL).collect()
    assert rows
    gmax = max(r["bucket_cap"] for r in rows)
    for r in rows:
        assert r["bucket_cap"] % LBB_STEP == 0
        assert r["bucket_cap"] - LBB_STEP < r["max_tok"] <= r["bucket_cap"]
        assert r["pad_waste"] == r["n_docs"] * r["bucket_cap"] - r["sum_tok"]
        assert 0.0 <= r["waste_pct"] < 1.0
        assert r["cells_saved"] == r["n_docs"] * (gmax - r["bucket_cap"])
    n_docs = sum(r["n_docs"] for r in rows)
    total_cells_bucketed = sum(r["n_docs"] * r["bucket_cap"] for r in rows)
    # pad-to-global-max cells == bucketed cells + total saved
    assert n_docs * gmax == total_cells_bucketed + sum(
        r["cells_saved"] for r in rows
    )


def test_brand_transition_rows_normalize(spark):
    """Each from-brand's outgoing probabilities sum to ~1 and cnt>0; the
    transition count total equals the consecutive-order pair explosion."""
    rows = q_brand_transition_matrix(spark, SF_SMALL).collect()
    assert rows
    by_from = defaultdict(list)
    for r in rows:
        assert r["cnt"] > 0
        by_from[r["brand_from"]].append(r)
    for frm, lst in by_from.items():
        s = sum(r["prob"] for r in lst)
        assert abs(s - 1.0) < 1e-6, (frm, s)
        tot = sum(r["cnt"] for r in lst)
        for r in lst:
            assert r["prob"] == round(r["cnt"] / tot, 8)


def test_decayed_popularity_dyadic_weights(spark):
    """Scores are exact dyadic sums: every score is expressible as the
    event count in weights of powers of two; shares sum to 1; rnk is a
    permutation ordered by (score desc, brand)."""
    rows = sorted(
        q_decayed_popularity(spark, SF_SMALL).collect(), key=lambda r: r["rnk"]
    )
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a["score"], b["brand"]) >= (b["score"], a["brand"]) or a[
            "score"
        ] > b["score"]
    tot = sum(r["score"] for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-6
    for r in rows:
        # score bounded by n_events * 2^CAP and at least n_events * 1
        assert r["n_events"] <= r["score"] <= r["n_events"] * (2**DECAY_CAP)
        assert r["share"] == round(r["score"] / tot, 8)


def test_reco_candidates_are_unbought_topk(spark):
    """Every candidate is a brand the sampled customer never bought,
    lists are <= CAND_TOP with dense ranks, scores non-increasing."""
    rows = q_reco_candidates(spark, SF_SMALL).collect()
    assert rows
    from ccirecommenderdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, SF_SMALL, "part").select("p_partkey", "p_brand")
    bought = {
        (r["o_custkey"], r["p_brand"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
        .collect()
    }
    by_ck = defaultdict(list)
    for r in rows:
        assert r["ck"] % CAND_SAMPLE_MOD == 0
        assert (r["ck"], r["brand"]) not in bought
        by_ck[r["ck"]].append(r)
    for ck, lst in by_ck.items():
        lst.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= CAND_TOP
        assert all(
            lst[i]["score"] >= lst[i + 1]["score"] for i in range(len(lst) - 1)
        )


def test_rendezvous_movement_only_to_new_shard(spark):
    """HRW invariant: expanding 8 -> 9 shards moves docs ONLY into the new
    shard; stable+moved partitions the corpus; balance is plausible."""
    from ccirecommenderdatapipeline_spark.plans.storage import (
        HRW_N,
        q_rendezvous_sharding,
    )

    rows = {r["shard"]: r for r in q_rendezvous_sharding(spark, SF_SMALL).collect()}
    assert set(rows) <= set(range(HRW_N + 1))
    for sh, r in rows.items():
        assert r["n_stable"] + r["n_moved_in"] == r["n_after"]
        if sh < HRW_N:
            assert r["n_moved_in"] == 0, "an old shard gained docs on expansion"
        else:
            assert r["n_stable"] == 0 and r["n_moved_in"] > 0
    total = sum(r["n_after"] for r in rows.values())
    moved = rows[HRW_N]["n_moved_in"]
    # expected movement fraction 1/(N+1); allow wide tolerance on 500 docs
    assert 0.02 < moved / total < 0.30


def test_triangle_count_closed_form(spark):
    """Replay triangles in pure Python from the same lift-filtered edge
    set; transitivity = 3T / wedges."""
    import itertools

    from ccirecommenderdatapipeline_spark.plans.graph import (
        TRI_LIFT,
        q_triangle_count_oriented,
    )
    from ccirecommenderdatapipeline_spark.sources.tables import load_table

    row = q_triangle_count_oriented(spark, SF_SMALL).collect()[0]
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, SF_SMALL, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
        .collect()
    )
    baskets = defaultdict(set)
    for r in ob:
        baskets[r["ok"]].add(r["brand"])
    n_orders = len(baskets)
    cnt = defaultdict(int)
    brand_c = defaultdict(int)
    for bs in baskets.values():
        for b in bs:
            brand_c[b] += 1
        for a, b in itertools.combinations(sorted(bs), 2):
            cnt[(a, b)] += 1
    edges = {
        pair
        for pair, c in cnt.items()
        if (c * n_orders) / (brand_c[pair[0]] * brand_c[pair[1]]) > TRI_LIFT
    }
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tris = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if a < c and b < c
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    assert row["n_edges"] == len(edges)
    assert row["n_triangles"] == tris
    assert row["transitivity"] == round(3.0 * tris / wedges, 8)


def test_ab_test_zscore_shape(spark):
    """Counts partition users by parity; z is finite and consistent with
    the rate difference's sign."""
    from ccirecommenderdatapipeline_spark.plans.events import q_ab_test_zscore

    r = q_ab_test_zscore(spark, SF_SMALL).collect()[0]
    assert r["conv_a"] <= r["n_a"] and r["conv_b"] <= r["n_b"]
    assert r["rate_a"] == round(r["conv_a"] / r["n_a"], 8)
    assert r["rate_b"] == round(r["conv_b"] / r["n_b"], 8)
    assert r["z_score"] is not None
    if r["rate_a"] != r["rate_b"]:
        assert (r["z_score"] > 0) == (r["rate_a"] > r["rate_b"])


def test_calibration_bins_close_to_ece(spark):
    """Bin populations cover every customer exactly once; mean_conf lies
    inside the bin's score interval; ece contributions are reconstructible."""
    from ccirecommenderdatapipeline_spark.plans.training import (
        CAL_BINS,
        q_logreg_calibration_bins,
    )

    rows = q_logreg_calibration_bins(spark, SF_SMALL).collect()
    assert rows
    nt = sum(r["n"] for r in rows)
    n_cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    assert nt == n_cust
    for r in rows:
        assert 0 <= r["bin"] < CAL_BINS
        lo, hi = r["bin"] / CAL_BINS, (r["bin"] + 1) / CAL_BINS
        # mean confidence of a bin must sit in (or on) the bin interval
        # (top bin also holds sig == 1.0 exactly)
        assert lo - 1e-9 <= r["mean_conf"] <= hi + 1e-9
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert r["ece_contrib"] == round(
            abs(r["frac_pos"] - r["mean_conf"]) * r["n"] / nt, 8
        ) or abs(
            r["ece_contrib"]
            - abs(r["frac_pos"] - r["mean_conf"]) * r["n"] / nt
        ) < 1e-7


def test_target_encoding_loo_leakage_free(spark):
    """LOO encoding equals (group_sum - own_y)/(n-1); adding the row back
    recovers the plain category mean; singletons are NULL."""
    from ccirecommenderdatapipeline_spark.plans.training import (
        q_target_encoding_loo,
    )

    rows = q_target_encoding_loo(spark, SF_SMALL).collect()
    by_nat = defaultdict(list)
    for r in rows:
        by_nat[r["c_nationkey"]].append(r)
    assert sum(len(v) for v in by_nat.values()) == 150
    for nat, lst in by_nat.items():
        n, s = len(lst), sum(r["y"] for r in lst)
        for r in lst:
            if n == 1:
                assert r["loo_enc"] is None
            else:
                assert r["loo_enc"] == round((s - r["y"]) / (n - 1), 8)


def test_ndcg_eval_bounds_and_perfect_lists(spark):
    """ndcg in [0,1]; hits_at_k <= min(n_rel, 5); a list with all top
    slots relevant up to min(n_rel,5) scores exactly 1."""
    from ccirecommenderdatapipeline_spark.plans.recommender import q_ndcg_eval

    rows = q_ndcg_eval(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ndcg"] <= 1.0 + 1e-9
        assert 0 <= r["hits_at_k"] <= min(r["n_rel"], 5)
        assert r["n_rel"] >= 1
        if r["ndcg"] == 1.0:
            assert r["hits_at_k"] == min(r["n_rel"], 5)


def test_dp_noisy_counts_mechanism(spark):
    """Noise is reproducible from the documented md5 draw; noisy = true +
    noise exactly; |noise| magnitudes follow the Exp envelope loosely."""
    import hashlib
    import math as m

    from ccirecommenderdatapipeline_spark.plans.analytics import (
        DP_B,
        DP_LN_DP,
        DP_NOISE_DP,
        DP_SEED,
        q_dp_noisy_counts,
    )

    rows = q_dp_noisy_counts(spark, SF_SMALL).collect()
    assert len(rows) == 25
    for r in rows:
        md5 = hashlib.md5(f"{DP_SEED}{r['brand']}".encode()).hexdigest()
        hm = int(md5[:13], 16)
        sgn = int(md5[13], 16) % 2
        noise = round(
            (1 - 2 * sgn) * DP_B * round(m.log(2.0 * (hm + 1) / 2**53), DP_LN_DP),
            DP_NOISE_DP,
        )
        assert r["noise"] == noise
        assert r["noisy_cnt"] == round(r["true_cnt"] + noise, DP_NOISE_DP)
        assert r["abs_err"] == round(abs(noise), DP_NOISE_DP)


def test_propensity_ipw_reweights_toward_population(spark):
    """ESS <= n per arm; weighted means lie in [0,1]; ate = mu_t - mu_c."""
    from ccirecommenderdatapipeline_spark.plans.training import q_propensity_ipw

    r = q_propensity_ipw(spark, SF_SMALL).collect()[0]
    assert 0 < r["ess_treated"] <= r["n_treated"]
    assert 0 < r["ess_control"] <= r["n_control"]
    assert 0.0 <= r["mu_treated"] <= 1.0 and 0.0 <= r["mu_control"] <= 1.0
    assert r["ate_ipw"] == round(r["mu_treated"] - r["mu_control"], 8)


def test_reco_coverage_gini_bounds(spark):
    """coverage in (0,1]; gini in [0,1); total recs <= customers * top-k."""
    from ccirecommenderdatapipeline_spark.plans.recommender import (
        q_reco_coverage_gini,
    )
    from ccirecommenderdatapipeline_spark.sources.tables import load_table

    r = q_reco_coverage_gini(spark, SF_SMALL).collect()[0]
    n_cust = (
        load_table(spark, SF_SMALL, "orders").select("o_custkey").distinct().count()
    )
    assert r["n_brands"] == 25
    assert 0 < r["brands_recommended"] <= r["n_brands"]
    assert r["catalog_coverage"] == round(r["brands_recommended"] / 25, 8)
    assert 0.0 <= r["gini_exposure"] < 1.0
    assert r["total_recs"] <= n_cust * CAND_TOP


def test_conformal_coverage_guarantee(spark):
    """Marginal coverage on the eval split must be >= 1 - alpha - slack
    (finite-sample); qhat is an achievable score; k = ceil(0.9(n+1))."""
    from ccirecommenderdatapipeline_spark.plans.training import (
        q_conformal_calibration,
    )

    r = q_conformal_calibration(spark, SF_SMALL).collect()[0]
    assert r["k"] == min((r["n_cal"] + 1) * 9 // 10 + (1 if (r["n_cal"] + 1) * 9 % 10 else 0), r["n_cal"])
    assert 0.0 <= r["qhat"] <= 1.0
    assert r["n_covered"] <= r["n_eval"]
    # conformal guarantee holds marginally; allow finite-sample slack
    assert r["coverage"] >= 0.9 - 3 * (0.9 * 0.1 / r["n_eval"]) ** 0.5


def test_info_gain_nonnegative_and_bounded(spark):
    """IG >= 0 (within rounding) and <= H(y); segment feature (contains
    the label's defining column) must have the maximal IG."""
    from ccirecommenderdatapipeline_spark.plans.training import (
        q_info_gain_features,
    )

    rows = {r["feature"]: r for r in q_info_gain_features(spark, SF_SMALL).collect()}
    assert set(rows) == {"nation", "segment", "acctbal_bin"}
    for r in rows.values():
        assert r["info_gain"] >= -1e-6
        assert r["info_gain"] <= r["h_y"] + 1e-6
        assert r["h_y_given_x"] >= -1e-6
    # segment determines y exactly -> H(y|segment) == 0, IG == H(y)
    assert abs(rows["segment"]["h_y_given_x"]) < 1e-6
    assert abs(rows["segment"]["info_gain"] - rows["segment"]["h_y"]) < 1e-6


def test_fairness_metrics_count_identities(spark):
    """Per-group counts partition customers; rates are exact count
    ratios; tpr/fpr are NULL only when the denominator class is empty."""
    from ccirecommenderdatapipeline_spark.plans.quality import (
        FAIR_GROUPS,
        q_fairness_metrics,
    )

    rows = q_fairness_metrics(spark, SF_SMALL).collect()
    assert len(rows) <= FAIR_GROUPS
    assert sum(r["n"] for r in rows) == 150
    for r in rows:
        assert 0.0 <= r["base_rate"] <= 1.0
        assert 0.0 <= r["pred_rate"] <= 1.0
        n_pos = round(r["base_rate"] * r["n"])
        if n_pos == 0:
            assert r["tpr"] is None
        if n_pos == r["n"]:
            assert r["fpr"] is None


def test_mmr_diversifies_and_is_greedy_exact(spark):
    """Replay the 3-step greedy in pure Python (decimal weights) from the
    candidate/sim tables; slate must match exactly."""
    from decimal import Decimal

    from ccirecommenderdatapipeline_spark.plans.recommender import (
        CAND_SAMPLE_MOD,
        MMR_DEN_MINUS,
        MMR_NUM,
        q_mmr_rerank,
    )

    got = {r["ck"]: r for r in q_mmr_rerank(spark, SF_SMALL).collect()}
    assert got
    from ccirecommenderdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, SF_SMALL, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand"))
        .distinct()
        .collect()
    )
    bought = defaultdict(set)
    for r in cb:
        bought[r["ck"]].add(r["brand"])
    brand_cust = defaultdict(set)
    for r in cb:
        brand_cust[r["brand"]].add(r["ck"])
    import math as m

    def cos(a, b):
        inter = len(brand_cust[a] & brand_cust[b])
        if not inter or a == b:
            return 0.0
        return round(inter / m.sqrt(len(brand_cust[a]) * len(brand_cust[b])), 8)

    for ck, row in got.items():
        assert ck % CAND_SAMPLE_MOD == 0
        mine = bought[ck]
        cand = {}
        for b in brand_cust:
            if b in mine:
                continue
            sc = max((cos(a, b) for a in mine), default=0.0)
            if sc > 0:
                cand[b] = sc
        sel = []
        for _ in range(3):
            best = None
            for b, sc in cand.items():
                if b in sel:
                    continue
                pen = max((cos(b, s) for s in sel), default=0.0)
                val = MMR_NUM * Decimal(f"{sc:.8f}") - MMR_DEN_MINUS * Decimal(
                    f"{pen:.8f}"
                )
                key = (-val, b)
                if best is None or key < best[0]:
                    best = (key, b)
            sel.append(best[1])
        assert [row["b1"], row["b2"], row["b3"]] == sel, ck
        assert len({row["b1"], row["b2"], row["b3"]}) == 3


def test_ivm_merge_equals_full_recompute(spark):
    """The base⊎delta merged aggregate equals a direct full-table
    aggregate computed independently in-test."""
    from ccirecommenderdatapipeline_spark.plans.storage import (
        q_ivm_aggregate_merge,
    )

    got = {
        (r["month"], r["priority"]): (r["n_orders"], round(r["revenue"], 2))
        for r in q_ivm_aggregate_merge(spark, SF_SMALL).collect()
    }
    full = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
                "month"
            ),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev"),
        )
        .collect()
    )
    want = {
        (r["month"], r["priority"]): (r["n"], round(float(r["rev"]), 2))
        for r in full
    }
    assert got == want


def test_als_item_step_solves_normal_equations(spark):
    """Each item's factor must satisfy (A + lambda*I) f = b within
    numerical tolerance, with A/b recomputed independently in Python."""
    import hashlib

    from ccirecommenderdatapipeline_spark.plans.recommender import (
        ALS_REG,
        ALS_SEED1,
        ALS_SEED2,
        ALS_U_DP,
        q_als_item_step,
    )
    from ccirecommenderdatapipeline_spark.sources.tables import load_table

    got = {r["brand"]: r for r in q_als_item_step(spark, SF_SMALL).collect()}
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, SF_SMALL, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand"))
        .distinct()
        .collect()
    )

    def u(seed, ck):
        h = int(hashlib.md5(f"{seed}{ck}".encode()).hexdigest()[:13], 16)
        return round((h + 1) / 2**52, ALS_U_DP)

    items = defaultdict(list)
    for r in cb:
        items[r["brand"]].append(r["ck"])
    assert set(got) == set(items)
    for brand, cks in items.items():
        a11 = sum(round(u(ALS_SEED1, c) ** 2, 12) for c in cks) + ALS_REG
        a12 = sum(round(u(ALS_SEED1, c) * u(ALS_SEED2, c), 12) for c in cks)
        a22 = sum(round(u(ALS_SEED2, c) ** 2, 12) for c in cks) + ALS_REG
        b1 = sum(u(ALS_SEED1, c) for c in cks)
        b2 = sum(u(ALS_SEED2, c) for c in cks)
        f1, f2 = got[brand]["f1"], got[brand]["f2"]
        assert got[brand]["n_users"] == len(cks)
        # residual of the normal equations at the reported solution
        assert abs(a11 * f1 + a12 * f2 - b1) < 1e-4 * max(1.0, abs(b1))
        assert abs(a12 * f1 + a22 * f2 - b2) < 1e-4 * max(1.0, abs(b2))


def test_quantile_normalize_equalizes_marginals(spark):
    """After normalization every source's value multiset is (up to
    rounding of ranks) a subset of the global order statistics, sources
    of equal size get IDENTICAL multisets, and ranks are preserved
    within each source."""
    from ccirecommenderdatapipeline_spark.plans.training import (
        q_quantile_normalize_sources,
    )

    rows = q_quantile_normalize_sources(spark, SF_SMALL).collect()
    assert rows
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
    sizes = {s: len(v) for s, v in by_src.items()}
    # equal-size sources -> identical normalized multisets
    from collections import Counter

    msets = defaultdict(list)
    for s, v in by_src.items():
        msets[sizes[s]].append(Counter(r["qnorm_tok"] for r in v))
    for size, lst in msets.items():
        assert all(c == lst[0] for c in lst), f"size-{size} sources differ"
    # rank preservation: sorting by raw within a source sorts normalized
    for s, v in by_src.items():
        v.sort(key=lambda r: (r["n_tok"], r["doc_id"]))
        qs = [r["qnorm_tok"] for r in v]
        assert qs == sorted(qs), s


def test_kaplan_meier_monotone_and_bounded(spark):
    """S(t) is non-increasing in (0,1); each step multiplies by exactly
    (1 - d/n) within the documented rounding; n_risk is non-increasing."""
    from ccirecommenderdatapipeline_spark.plans.analytics import (
        q_kaplan_meier_survival,
    )

    rows = sorted(
        q_kaplan_meier_survival(spark, SF_SMALL).collect(), key=lambda r: r["t"]
    )
    assert rows
    prev_s, prev_n = 1.0, None
    for r in rows:
        assert 0.0 < r["survival"] < 1.0
        assert r["survival"] <= prev_s + 1e-9
        step = 1.0 - r["d"] / r["n_risk"]
        assert abs(r["survival"] - prev_s * step) < 1e-5
        if prev_n is not None:
            assert r["n_risk"] <= prev_n
        prev_s, prev_n = r["survival"], r["n_risk"]


def test_map_mrr_consistency_with_ndcg(spark):
    """Same rig as ndcg_eval: per-customer hit counts agree between the
    two evals; rr = 1/first-hit-rank implies rr*hits relations; AP is in
    [0,1] and AP=1 exactly when the top min(n_rel,5) slots are all hits."""
    from ccirecommenderdatapipeline_spark.plans.recommender import (
        q_map_mrr_eval,
        q_ndcg_eval,
    )

    mrr = {r["ck"]: r for r in q_map_mrr_eval(spark, SF_SMALL).collect()}
    ndcg = {r["ck"]: r for r in q_ndcg_eval(spark, SF_SMALL).collect()}
    assert set(mrr) == set(ndcg)
    for ck, r in mrr.items():
        assert r["hits_at_k"] == ndcg[ck]["hits_at_k"]
        assert r["n_rel"] == ndcg[ck]["n_rel"]
        assert 0.0 <= r["ap"] <= 1.0 + 1e-9
        if r["hits_at_k"] == 0:
            assert r["rr"] == 0.0 and r["ap"] == 0.0
        else:
            # rr = 1/rank for an integer rank in [1, 5]
            assert any(abs(r["rr"] - round(1.0 / k, 8)) < 1e-12 for k in range(1, 6))
        if r["ap"] >= 1.0:
            assert r["hits_at_k"] == min(r["n_rel"], 5)


def test_negative_sampling_never_hits_positives(spark):
    """Every sampled negative is genuinely unbought; exactly NEG_K (or the
    remaining catalog size) per customer; ranks are contiguous from 1; the
    draw is reproducible (deterministic md5 stream)."""
    from ccirecommenderdatapipeline_spark.plans.recommender import (
        NEG_K,
        q_negative_sampling,
    )

    rows = q_negative_sampling(spark, SF_SMALL).collect()
    assert rows
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select("l_orderkey", "l_partkey")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select("o_orderkey", "o_custkey")
    p = spark.read.parquet(f"{SF_SMALL}/part.parquet").select("p_partkey", "p_brand")
    pos = {
        (r["ck"], r["brand"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand"))
        .distinct()
        .collect()
    }
    n_brands = p.select("p_brand").distinct().count()
    per_ck = defaultdict(list)
    for r in rows:
        assert (r["ck"], r["brand"]) not in pos
        per_ck[r["ck"]].append(r["neg_rank"])
    pos_per_ck = defaultdict(int)
    for ck, _ in pos:
        pos_per_ck[ck] += 1
    for ck, ranks in per_ck.items():
        expect = min(NEG_K, n_brands - pos_per_ck[ck])
        assert sorted(ranks) == list(range(1, expect + 1))
    again = {(r["ck"], r["brand"], r["neg_rank"]) for r in q_negative_sampling(spark, SF_SMALL).collect()}
    assert again == {(r["ck"], r["brand"], r["neg_rank"]) for r in rows}
