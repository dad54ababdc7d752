"""Property-based simulator parity (SURVEY §5.3): on ARBITRARY price/CCI
series — not just the fixture — the kernel must match the independent
pandas reimplementation of the reference loop.

Examples are kept few and series short: each example runs real Spark jobs.
"""

from __future__ import annotations

import datetime

import pandas as pd
from hypothesis import given, settings, strategies as st

from ccirecommenderdatapipeline_spark.operators.simulator import simulate_trades
from tests.test_simulator import KEY, pandas_simulate

GRID = {
    "holding_days": [3, 7],
    "target_return": [2, 6],
    "buy_threshold": [-50.0],
    "stop_threshold": [40.0],
}

price = st.floats(min_value=1.0, max_value=1000.0, allow_nan=False, width=32)
cci_val = st.one_of(st.none(), st.floats(min_value=-300, max_value=300, allow_nan=False, width=32))


@st.composite
def symbol_series(draw):
    n = draw(st.integers(min_value=5, max_value=40))
    base = datetime.date(2024, 1, 1)
    rows = []
    for i in range(n):
        rows.append({
            "symbol": "S1",
            "date": base + datetime.timedelta(days=i),
            "open_pr": draw(price),
            "close_pr": draw(price),
            "open_cci": draw(cci_val),
            "close_cci": draw(cci_val),
        })
    return pd.DataFrame(rows)


@settings(max_examples=6, deadline=None)
@given(series=symbol_series())
def test_simulator_property_parity(spark, series):
    # Spark side gets None -> NULL (the real CCI pipeline emits nulls, and
    # Spark orders NaN as larger-than-everything, which would diverge);
    # the pandas reference gets NaN, matching the reference's own dtype.
    # pandas coerces None -> NaN inside float columns; rebuild real NULLs
    # for Spark (the CCI pipeline emits nulls and never NaN — Spark orders
    # NaN larger-than-everything, which is NOT the semantics under test)
    rows = [
        tuple(None if isinstance(v, float) and pd.isna(v) else v for v in r)
        for r in series.itertuples(index=False)
    ]
    sdf = spark.createDataFrame(
        rows,
        "symbol string, date date, open_pr double, close_pr double, "
        "open_cci double, close_cci double",
    )
    pandas_series = series.copy()
    for c in ["open_cci", "close_cci"]:
        pandas_series[c] = pd.to_numeric(pandas_series[c])
    got = simulate_trades(sdf, GRID).toPandas()
    exp = pandas_simulate(pandas_series, GRID)
    assert len(got) == len(exp)
    if len(exp) == 0:
        return
    g = got.sort_values(KEY).reset_index(drop=True)
    e = exp.sort_values(KEY).reset_index(drop=True)
    assert (g["trade_result"] == e["trade_result"]).all()
    assert (g["days_held"] == e["days_held"]).all()
    assert (g["sell_date"] == e["sell_date"]).all()
    assert (g["sell_price"] - e["sell_price"]).abs().max() < 1e-6


@given(
    cents=st.integers(min_value=-10_000_000, max_value=10_000_000),
    days=st.integers(min_value=1, max_value=60),
)
@settings(max_examples=500, deadline=None)
def test_rpd_unit_rule_matches_exact_rational_half_up(cents, days):
    """The r9 revenue-per-day quantization — floor(D*1e4/days + 0.5) on
    the exact 4dp-diff integer D — must equal true round-half-up (ties
    toward +inf) of the rational D*1e4/days, for every representable
    input. This pins the exact-integer rule both engines share
    (operators/simulator.py's kernel, the DuckDB oracle)
    against Fraction arithmetic, INCLUDING the knife-edge midpoints that
    made the previous ROUND(double, 8) form engine-divergent (one such
    trade at sf0.1 flipped six strategy_agg rows, r9 sweep)."""
    import math
    from fractions import Fraction

    # D in 1e-4 price units; cents/100 keeps the magnitude realistic
    D = cents * 100  # exact int64, |D*1e4| <= 1e13 (the IEEE-safety bound)
    got = math.floor(D * 10000 / days + 0.5)          # the engines' rule
    exact = Fraction(D * 10000, days)
    want = math.floor(exact + Fraction(1, 2))          # true half-up (+inf ties)
    assert got == want, (D, days, got, want)


@given(
    cents=st.integers(min_value=-10_000_000, max_value=10_000_000),
    days=st.integers(min_value=1, max_value=60),
)
@settings(max_examples=200, deadline=None)
def test_rpd_unit_rule_numpy_path_agrees(cents, days):
    """The fused Arrow kernel's vectorized form of the same rule
    (np.floor over float64) must agree with the scalar rule — the IEEE
    safety argument (division error << 1/(2*days) boundary distance,
    exact dyadic midpoints) holds for numpy's element-wise ops too."""
    import math

    import numpy as np

    D = np.int64(cents * 100)
    got = np.floor(D * 10000 / np.int64(days) + 0.5).astype(np.int64)
    want = math.floor(int(D) * 10000 / days + 0.5)
    assert int(got) == want
