"""Invariant + plan tests for plans/warehouse.py (round-4 breadth)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ccirecommenderdatapipeline_spark.plans import QUERIES, storage
from ccirecommenderdatapipeline_spark.sources.tables import load_table

from .conftest import SF_SMALL


def _q(spark, name, sf=SF_SMALL):
    return QUERIES[name](spark, sf)


def test_data_profile_single_aggregate_plan(spark):
    """The long-form reshape must NOT re-run the aggregate per column: one
    scan, one aggregate pair (partial+final), stack handled by Generate/
    Project — a 4-branch union would show 4 scans."""
    df = _q(spark, "data_profile")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    rows = {r["column_name"]: r for r in df.collect()}
    assert set(rows) == {"o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"}
    o = load_table(spark, SF_SMALL, "orders")
    n = o.count()
    assert all(r["n_rows"] == n for r in rows.values())
    assert rows["o_orderstatus"]["min_num"] is None
    assert rows["o_custkey"]["n_distinct"] <= n


def test_cdc_apply_tombstones_and_upserts(spark):
    out = _q(spark, "cdc_apply")
    rows = out.collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["change_kind"], []).append(r)
    # no key appears twice in the final state
    keys = [r["key"] for r in rows]
    assert len(keys) == len(set(keys))
    # every key whose LAST change was a delete is absent
    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    last = (
        li.groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.max_by(F.col("l_linenumber"), F.col("l_linenumber")).alias("last_ln"))
    )
    deleted = {r["key"] for r in last.filter(F.col("last_ln") % 7 == 0).collect()}
    assert deleted.isdisjoint(keys)
    # inserted rows are change-keys not in the snapshot (o_orderkey % 3 == 0)
    assert all(r["key"] % 3 == 0 for r in by_kind.get("inserted", []))
    assert all(r["key"] % 3 != 0 for r in by_kind.get("kept", []))


def test_zorder_buckets_bound_both_dimensions(spark):
    """Each full 256-row z-bucket owns a 16x16 rectangle — the property that
    makes parquet min/max footers prune BOTH dimensions after a z-ordered
    write. (Partial buckets can only be narrower.)"""
    rows = _q(spark, "zorder_layout").collect()
    assert rows
    for r in rows:
        assert r["max_x"] - r["min_x"] <= 15, r
        assert r["max_y"] - r["min_y"] <= 15, r
    # buckets jointly cover all rows
    n = load_table(spark, SF_SMALL, "orders").count()
    assert sum(r["n_rows"] for r in rows) == n


def test_entity_resolution_one_best_match_per_supplier(spark):
    out = _q(spark, "entity_resolution").collect()
    sup = load_table(spark, SF_SMALL, "supplier")
    assert len(out) == sup.count()  # every supplier resolved exactly once
    # the reported match is truly the block's minimum distance
    import random

    probe = random.Random(7).sample(out, min(3, len(out)))
    cust = load_table(spark, SF_SMALL, "customer")
    for r in probe:
        s_nat = sup.filter(F.col("s_suppkey") == r["s_suppkey"]).head()["s_nationkey"]
        best = (
            cust.filter(F.col("c_nationkey") == s_nat)
            .select(F.min(F.levenshtein(F.lit(r["s_name"]), F.col("c_name"))).alias("d"))
            .head()["d"]
        )
        assert r["dist"] == best


def test_feature_binning_is_a_partition_of_rows(spark):
    rows = sorted(_q(spark, "feature_binning").collect(), key=lambda r: r["bin"])
    n = load_table(spark, SF_SMALL, "customer").count()
    assert [r["bin"] for r in rows] == list(range(1, 11))
    assert sum(r["n"] for r in rows) == n
    # ntile balance: sizes differ by at most 1; bins are value-ordered
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]


def test_vwap_bounded_by_price_range(spark):
    rows = _q(spark, "vwap_monthly").collect()
    assert rows
    for r in rows:
        assert r["vol_sum"] > 0
        # vwap is a convex combination of daily closes
        assert r["pv_sum"] / r["vol_sum"] == r["vwap"]


def test_anomaly_mad_flags_are_extreme(spark):
    out = _q(spark, "anomaly_mad").collect()
    for r in out:
        assert abs(r["value"] - r["med"]) > 6 * r["mad"]
        assert r["mad"] > 0


def test_bigram_lm_counts_consistent(spark):
    rows = _q(spark, "bigram_lm").collect()
    assert rows
    for r in rows:
        assert r["c2"] <= r["c1"]
        assert r["c1"] >= 50
    # at most 3 continuations per head
    heads = {}
    for r in rows:
        heads[r["w1"]] = heads.get(r["w1"], 0) + 1
    assert max(heads.values()) <= 3


def test_constraint_checks_all_pass_on_clean_fixture(spark):
    rows = {r["constraint_name"]: r for r in _q(spark, "constraint_checks").collect()}
    assert set(rows) == {
        "pk_unique", "custkey_complete", "price_positive", "status_domain",
        "fk_customer",
    }
    for r in rows.values():
        assert r["passed"] and r["violations"] == 0, r


def test_constraint_checks_two_scans_only(spark):
    """One conditional-aggregate scan of orders + one RI anti-join pair —
    NOT one scan per constraint (5 scans would show here)."""
    plan = (
        _q(spark, "constraint_checks")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") <= 3, plan  # orders x2 branches + customer


def test_stats_correlation_in_range_and_matches_builtin(spark):
    from pyspark.sql import functions as F2
    from ccirecommenderdatapipeline_spark.sources.prices import prices_view

    rows = _q(spark, "stats_correlation").collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["corr_pv"] <= 1.0
    # spot-check vs Spark's builtin corr (FP-loose: builtin is order-dependent)
    p = prices_view(spark, "/root/testdata/sf0.001")
    builtin = {
        r["symbol"]: r["c"]
        for r in p.groupBy("symbol")
        .agg(F2.corr("close_pr", "daily_trade_stock").alias("c"))
        .collect()
    }
    for r in rows:
        assert abs(r["corr_pv"] - builtin[r["symbol"]]) < 1e-6


def test_scd2_point_in_time_exactly_one_version_per_probe(spark):
    out = _q(spark, "scd2_point_in_time").collect()
    probes = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("event_id") % 97 == 0).count()
    )
    assert len(out) == probes  # every probe resolves to exactly one version
    assert len({r["probe_id"] for r in out}) == len(out)


def test_histogram_equiwidth_partitions_and_bounds(spark):
    rows = _q(spark, "histogram_equiwidth").collect()
    n_total = load_table(spark, SF_SMALL, "orders").count()
    assert sum(r["n"] for r in rows) == n_total
    step = 600000.0 / 20
    for r in rows:
        if 1 <= r["bucket"] <= 20:
            assert (r["bucket"] - 1) * step <= r["lo"] <= r["hi"] < r["bucket"] * step


def test_containment_dominates_jaccard(spark):
    """containment = inter/min >= inter/union = jaccard, and the containment
    query surfaces the embedded-doc pairs the jaccard threshold admits."""
    cont = {(r["doc_a"], r["doc_b"]): r for r in _q(spark, "dedup_containment").collect()}
    jacc = _q(spark, "dedup_ngram_jaccard").collect()
    assert cont
    for r in cont.values():
        assert 0.8 <= r["containment"] <= 1.0 + 1e-12
        assert r["inter_grams"] <= r["min_grams"]
    for j in jacc:
        k = (j["doc_a"], j["doc_b"])
        if k in cont:
            assert cont[k]["containment"] >= j["jaccard"] - 1e-12


def test_schema_evolution_scan_stays_prunable(spark):
    """mergeSchema must not break columnar pruning or pushdown: a filter
    on the evolved column reaches the scan, and old files contribute rows
    with the column null-filled."""
    out = {r["priority"]: r for r in _q(spark, "schema_evolution_read").collect()}
    assert "<pre-evolution>" in out and len(out) == 6
    o = load_table(spark, SF_SMALL, "orders")
    pre = o.filter(F.year("o_orderdate") < 1998).count()
    assert out["<pre-evolution>"]["n_orders"] == pre > 0
    assert sum(r["n_orders"] for r in out.values()) == o.count()
    # pushdown probe on the merged read
    merged = spark.read.option("mergeSchema", "true").parquet(
        storage.evolved_orders(spark, SF_SMALL)
    )
    probe = merged.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)]" in plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>" in plan


def test_event_transitions_rows_are_distributions(spark):
    rows = _q(spark, "event_transitions").collect()
    assert rows
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r)
    for prev, grp in by_prev.items():
        total = grp[0]["row_total"]
        assert sum(r["n"] for r in grp) == total
        assert abs(sum(r["p_transition"] for r in grp) - 1.0) < 1e-4


def test_seasonality_deviations_center_on_zero(spark):
    rows = _q(spark, "seasonality_dow").collect()
    assert rows
    by_sym = {}
    for r in rows:
        by_sym.setdefault(r["symbol"], []).append(r)
    for sym, grp in by_sym.items():
        # weighted deviations sum to ~0 (exact up to double rounding)
        s = sum(r["dow_deviation"] * r["n_days"] for r in grp)
        assert abs(s) < 1e-6 * max(abs(r["close_sum"]) for r in grp)
        assert {r["dow"] for r in grp} <= set(range(1, 8))


def test_er_qgram_agrees_with_exact_on_shared_suppliers(spark):
    """The prefix-filtered path must (a) resolve most suppliers (recall of
    the candidate generator) and (b) when the exact best match survives the
    gram filter, agree with the exact blocked form."""
    exact = {r["s_suppkey"]: r for r in _q(spark, "entity_resolution").collect()}
    fast = {r["s_suppkey"]: r for r in _q(spark, "entity_resolution_qgram").collect()}
    assert len(fast) >= 0.9 * len(exact)  # candidate-generation recall
    agree = sum(
        1 for k, r in fast.items() if exact[k]["dist"] == r["dist"]
    )
    assert agree >= 0.95 * len(fast)  # filtered best is the true best dist


def test_attribution_credit_conservation(spark):
    """Each purchase with >=1 touch in window yields exactly ONE first-touch
    and ONE last-touch credit, so both models' credit totals are equal."""
    rows = _q(spark, "attribution_models").collect()
    assert rows
    assert sum(r["first_touch_n"] for r in rows) == sum(
        r["last_touch_n"] for r in rows
    )
    for r in rows:
        assert r["channel"] in {"view", "click", "signup"}


def test_rolling_correlation_bounded(spark):
    rows = _q(spark, "rolling_correlation").collect()
    assert rows
    for r in rows:
        assert -1.0 - 1e-9 <= r["corr30"] <= 1.0 + 1e-9


def test_cusum_peak_is_global_max(spark):
    """The reported peak really is the per-symbol max |cusum| (independent
    pandas recomputation from raw prices)."""
    import pandas as pd
    from ccirecommenderdatapipeline_spark.sources.prices import prices_view

    out = {r["symbol"]: r for r in _q(spark, "cusum_drift").collect()}
    pdf = (
        prices_view(spark, SF_SMALL)
        .select("symbol", "date", "close_pr")
        .toPandas()
        .sort_values(["symbol", "date"])
    )
    for sym, g in pdf.groupby("symbol"):
        if len(g) < 100 or sym not in out:
            continue
        # exact scaled deviations as in the query: close*n - total
        total = g["close_pr"].round(2).sum()
        c = ((g["close_pr"].round(2) * len(g)) - total).cumsum() / len(g)
        peak = c.abs().max()
        assert abs(abs(out[sym]["peak_cusum"]) - peak) < 1e-4 * max(peak, 1.0)


def test_inventory_clamp_never_negative_and_bounded(spark):
    """Clamped balance stays in [0, sum of positive deltas]; and differs
    from the unclamped prefix sum exactly when some prefix went negative
    (pandas replay on sampled parts)."""
    rows = _q(spark, "inventory_clamped").collect()
    assert rows
    li = (
        load_table(spark, SF_SMALL, "lineitem")
        .select("l_partkey", "l_linenumber", "l_quantity", "l_shipdate", "l_orderkey")
        .toPandas()
    )
    li["delta"] = li["l_quantity"].astype("int64").where(
        li["l_linenumber"] % 2 == 1, -li["l_quantity"].astype("int64")
    )
    import random

    for r in random.Random(3).sample(rows, 5):
        g = li[li["l_partkey"] == r["part"]].sort_values(
            ["l_shipdate", "l_orderkey", "l_linenumber"]
        )
        bal = 0
        for d in g["delta"]:
            bal = max(0, bal + d)
        assert bal == r["final_balance"]
        assert len(g) == r["n_moves"]


def test_compaction_plan_bins_near_target(spark):
    from ccirecommenderdatapipeline_spark import plans
    from ccirecommenderdatapipeline_spark.plans.warehouse import COMPACT_TARGET
    from tests.conftest import SF_MED

    out = plans.QUERIES["compaction_plan"](spark, SF_MED).toPandas()
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet")
    # bins partition the listing: totals reconcile exactly
    assert out["n_files"].sum() == docs.count()
    total = docs.selectExpr("CAST(sum(n_chars) AS BIGINT) b").collect()[0]["b"]
    assert out["bin_bytes"].sum() == total
    # every bin except a source's last is within one file of the target
    # (sorted running-sum binning property)
    for src, grp in out.groupby("source"):
        g = grp.sort_values("bin")
        assert list(g["bin"]) == list(range(len(g)))
        assert (g["bin_bytes"].iloc[:-1] >= COMPACT_TARGET * 0.5).all()


def test_zorder_skips_more_than_natural(spark):
    from ccirecommenderdatapipeline_spark import plans
    from tests.conftest import SF_MED

    out = plans.QUERIES["zorder_pruning_gain"](spark, SF_MED).toPandas()
    agg = out.groupby("layout")[["n_buckets", "n_skipped"]].sum()
    nat = agg.loc["natural"]
    zo = agg.loc["zorder"]
    # the whole point of the layout: footer-stat pruning works under
    # z-order and not under ingestion order
    assert zo["n_skipped"] / zo["n_buckets"] > nat["n_skipped"] / nat["n_buckets"]
    assert zo["n_skipped"] / zo["n_buckets"] > 0.5
