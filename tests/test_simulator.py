"""Simulator parity vs an independent pandas re-implementation of the
reference loop semantics (daily_function.py:717-816) — this guards against
a shared misreading between the kernel and its SQL oracle — and every
simulator-fed query against its DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ccirecommenderdatapipeline_spark import plans
from ccirecommenderdatapipeline_spark.operators.simulator import (
    simulate_aggregate,
    simulate_trades,
)
from ccirecommenderdatapipeline_spark.plans.cci import cci_view
from ccirecommenderdatapipeline_spark.plans.simulator import AGG_GRID, SIM_GRID
from ccirecommenderdatapipeline_spark.session import run_tasks
from tests.conftest import SF_MED, SF_SMALL
from tools.check_oracle import df_multiset, duck_connect


def pandas_simulate(cci: pd.DataFrame, grid: dict) -> pd.DataFrame:
    """Row-positional forward scan, exactly daily_function.py:724-813."""
    trades = []
    for symbol, g in cci.groupby("symbol"):
        df = g.sort_values("date").reset_index(drop=True)
        for x in grid["holding_days"]:
            for r in grid["target_return"]:
                for b in grid["buy_threshold"]:
                    for s in grid["stop_threshold"]:
                        b, s = float(b), float(s)
                        sig = (df["open_cci"].shift(1) < b) & (df["open_cci"] > b)
                        for buy_idx in df.index[sig]:
                            buy_price = df.loc[buy_idx, "open_pr"]
                            buy_date = df.loc[buy_idx, "date"]
                            fut = df.iloc[buy_idx + 1: buy_idx + 1 + x]
                            if fut.empty:
                                continue
                            target_price = buy_price * (1 + r / 100)
                            t_hits = fut.index[fut["close_pr"] >= target_price]
                            s_hits = fut.index[fut["close_cci"] <= s]
                            t_idx = t_hits.min() if len(t_hits) else None
                            s_idx = s_hits.min() if len(s_hits) else None
                            rec = dict(
                                symbol=symbol, buy_date=buy_date, buy_price=buy_price,
                                condition_holding_days=x, condition_target_return=r,
                                condition_buy_cci_threshold=b,
                                condition_stop_loss_cci_threshold=s,
                            )
                            if t_idx is not None and (s_idx is None or t_idx < s_idx):
                                rec.update(
                                    trade_result="reach_target",
                                    sell_date=fut.loc[t_idx, "date"],
                                    sell_price=fut.loc[t_idx, "close_pr"],
                                    days_held=(fut.loc[t_idx, "date"] - buy_date).days,
                                )
                            elif s_idx is not None:
                                rec.update(
                                    trade_result="stop_loss",
                                    sell_date=fut.loc[s_idx, "date"],
                                    sell_price=fut.loc[s_idx, "close_pr"],
                                    days_held=(fut.loc[s_idx, "date"] - buy_date).days,
                                )
                            else:
                                rec.update(
                                    trade_result="maturity",
                                    sell_date=fut.iloc[-1]["date"],
                                    sell_price=fut.iloc[-1]["close_pr"],
                                    days_held=x,
                                )
                            trades.append(rec)
    return pd.DataFrame(trades)


KEY = [
    "symbol", "buy_date", "condition_holding_days", "condition_target_return",
    "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
]


def test_simulator_matches_pandas_reference(spark):
    cci = cci_view(spark, SF_SMALL)
    got = simulate_trades(cci, SIM_GRID).toPandas()
    exp = pandas_simulate(cci.toPandas(), SIM_GRID)
    assert len(got) == len(exp) > 0
    g = got.sort_values(KEY).reset_index(drop=True)
    e = exp.sort_values(KEY).reset_index(drop=True)
    for c in ["trade_result", "days_held"]:
        assert (g[c] == e[c]).all(), c
    for c in ["buy_price", "sell_price"]:
        assert (g[c] - e[c]).abs().max() < 1e-9, c
    assert (g["sell_date"] == e["sell_date"]).all()


def test_trade_invariants(spark):
    trades = simulate_trades(cci_view(spark, SF_SMALL), SIM_GRID).toPandas()
    # exactly one outcome per trade (daily_function.py:757-813)
    outcome_cols = trades[["reach_target_date", "stop_loss_date", "maturity_date"]]
    assert (outcome_cols.notna().sum(axis=1) == 1).all()
    assert trades["sell_date"].notna().all()
    assert trades["sell_price"].notna().all()
    assert (trades["days_held"] >= 0).all()
    mat = trades[trades["trade_result"] == "maturity"]
    assert (mat["days_held"] == mat["condition_holding_days"]).all()


def test_strategy_agg_rates(spark):
    agged = simulate_aggregate(cci_view(spark, SF_SMALL), SIM_GRID).toPandas()
    assert (agged["win_rate"] + agged["lose_rate"] <= 100.0 + 1e-9).all()
    assert (agged["count_buy_date"] > 0).all()
    s = agged[["count_win", "count_lose"]].sum(axis=1)
    assert (s <= agged["count_trades"]).all()


def test_small_cci_runs_the_kernel_in_one_task(spark):
    """AQE sizes a persisted view's final shuffle by its bytes
    (``session.get_spark``), so the cached cci of a small snapshot is one
    partition, and the kernel, which reads that cache without a shuffle,
    runs its Python stage in one task."""
    cci = cci_view(spark, SF_SMALL)
    cci.count()  # materialize the cache: the counted job is the kernel's stage
    _, tasks = run_tasks(
        spark,
        lambda: simulate_aggregate(cci, AGG_GRID)
        .write.format("noop").mode("overwrite").save(),
    )
    assert tasks == 1


def test_python_warm_up_runs_one_task_per_core(spark):
    """The timing tools' Python-worker warm-up forks one worker per core:
    it runs one mapInPandas task per core, with no shuffle for AQE to
    coalesce into a single task."""
    from bench import warm_python_workers

    _, tasks = run_tasks(spark, lambda: warm_python_workers(spark))
    assert tasks == spark.sparkContext.defaultParallelism


def test_larger_cci_keeps_parallelism(spark):
    """The sizing goes the other way too: at SF_MED the cached cci keeps
    more than one partition, so the kernel's Python stage still runs in
    parallel where the data is large enough to pay for it."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("a one-core session has one partition at any size")
    assert cci_view(spark, SF_MED).rdd.getNumPartitions() > 1


@pytest.mark.parametrize(
    "name",
    ["trades_sim", "strategy_agg", "best_return", "best_return_depth3", "sell_decisions"],
)
def test_simulator_query_matches_oracle(spark, name):
    """Each simulator-fed query — trade rows, the aggregate, the keyed best
    table at two and three search depths, and the lifecycle positions —
    equals its DuckDB oracle's row multiset at full float precision."""
    sdf = plans.QUERIES[name](spark, SF_SMALL)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck_connect(SF_SMALL).execute(plans.ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows) > 0
    assert df_multiset(sdf.columns, srows) == df_multiset(dcols, drows)


def test_price_decimal_scale_contract(spark):
    """The exact-sum machinery (the kernel's int64 units, the oracle's
    decimals) is sound ONLY if buy prices are exact 4-decimal and
    sell prices exact 2-decimal values (sources/prices.py contract) — the
    unit scaling must strip representation error <<1 ulp, never real
    digits. Pin that the staged fixture actually satisfies it."""
    from ccirecommenderdatapipeline_spark.sources.prices import prices_view
    import numpy as np

    p = prices_view(spark, SF_SMALL).select("open_pr", "close_pr").toPandas()
    o = p["open_pr"].to_numpy(dtype=float)
    c = p["close_pr"].to_numpy(dtype=float)
    assert np.abs(o * 1e4 - np.round(o * 1e4)).max() < 1e-3
    assert np.abs(c * 1e2 - np.round(c * 1e2)).max() < 1e-5


def test_unscale_exact_past_2_53():
    """ADVICE r7: float(S)/scale double-rounds once |S| >= 2**53; the
    kernel's _unscale_exact must stay correctly rounded (== Fraction)
    across the boundary, elementwise, for every scale it is used with."""
    from fractions import Fraction
    import numpy as np
    from ccirecommenderdatapipeline_spark.operators.simulator import _unscale_exact

    probes = np.array(
        [0, 1, -1, 2**53 - 1, 2**53, 2**53 + 1, -(2**53) - 1,
         2**53 + 12345, 10**17 + 7, -(10**17 + 7), 2**62 + 9999],
        dtype=np.int64,
    )
    for scale in (10**2, 10**4, 10**8):
        got = _unscale_exact(probes, scale)
        want = np.array(
            [float(Fraction(int(s), scale)) for s in probes], dtype=np.float64
        )
        # bit equality, not tolerance: correctly-rounded is a single value
        assert np.array_equal(got, want), scale
        # scalar path too
        assert _unscale_exact(int(probes[5]), scale) == want[5]
