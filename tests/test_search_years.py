"""The search-history depth dimension (reference daily_function.py:670-682,
704-705, 1041-1100): per-symbol relative date slices keyed into the
simulate -> aggregate -> best pipeline.

Invariants pinned here:
- the 'all' depth of the years-keyed best table equals the un-keyed best
  table row for row (the depth dimension is a pure refinement);
- a bounded depth counts exactly the full history's buys strictly after
  its first slice day — the slice starts at the per-symbol max(date) minus
  the depth (inclusive, add_months clamping), the reference's
  ``df[date] >= max - DateOffset(years=y)``, and the slice's first row
  produces no crossover signal (its lag is null inside the slice),
  matching pandas' post-filter iteration.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ccirecommenderdatapipeline_spark.operators.simulator import (
    best_by,
    simulate_aggregate,
    simulate_trades,
)
from ccirecommenderdatapipeline_spark.plans.cci import cci_view
from tests.conftest import SF_SMALL

GRID = {
    "holding_days": [3, 7],
    "target_return": [2, 6],
    "buy_threshold": [-100.0, -50.0],
    "stop_threshold": [40.0],
}

COMBO = [
    "symbol", "condition_holding_days", "condition_target_return",
    "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
]


@pytest.fixture(scope="module")
def cci(spark):
    return cci_view(spark, SF_SMALL)


def _best(df, extra=()):
    return best_by(df, "revenue_rate", extra_keys=extra)


def test_all_depth_equals_unkeyed_best(spark, cci):
    keyed = simulate_aggregate(cci, GRID, years=["1", "all"])
    unkeyed = simulate_aggregate(cci, GRID)
    cols = unkeyed.columns
    all_slice = _best(keyed, ("search_years",)).filter(
        F.col("search_years") == "all"
    ).select(*cols)
    plain = _best(unkeyed).select(*cols)
    assert all_slice.exceptAll(plain).count() == 0
    assert plain.exceptAll(all_slice).count() == 0


def test_slice_first_row_has_no_signal(spark, cci):
    # A 1-year depth counts, per combo, exactly the full history's buy days
    # strictly after the slice's first day: a buy ON that day has a null
    # lag inside the slice and must not count. So its count_buy_date is
    # <= the 'all' count, with equality pinned to the strict boundary.
    agged = simulate_aggregate(cci, GRID, years=["1", "all"])
    counts = {
        y: agged.filter(F.col("search_years") == y).select(
            *COMBO, F.col("count_buy_date").alias(f"n_{y}")
        )
        for y in ("1", "all")
    }
    both = counts["all"].join(counts["1"], COMBO, "left")
    assert both.filter(F.coalesce("n_1", F.lit(0)) > F.col("n_all")).count() == 0

    maxd = cci.groupBy("symbol").agg(F.max("date").alias("max_d"))
    starts = (
        cci.join(maxd, "symbol")
        .filter(F.col("date") >= F.add_months("max_d", -12))
        .groupBy("symbol")
        .agg(F.min("date").alias("start_d"))
    )
    want = (
        simulate_trades(cci, GRID)
        .join(starts, "symbol")
        .filter(F.col("buy_date") > F.col("start_d"))
        .groupBy(*COMBO)
        .agg(F.count("*").alias("n_1"))
    )
    assert want.count() > 0
    assert want.exceptAll(counts["1"]).count() == 0
    assert counts["1"].exceptAll(want).count() == 0


def test_agged_view_is_years_all_slice(spark):
    # The shared un-keyed aggregate view is DERIVED as the
    # search_years='all' slice of the years-keyed view (one kernel pass
    # serves both persisted views). The slice must equal a direct
    # years=None build bit-exactly: the 'all' depth takes the identical
    # select-all code path.
    from ccirecommenderdatapipeline_spark.plans.simulator import (
        AGG_GRID,
        agged_view,
    )

    direct = simulate_aggregate(cci_view(spark, SF_SMALL), AGG_GRID)
    view = agged_view(spark, SF_SMALL).select(*direct.columns)
    assert view.columns == direct.columns
    assert view.exceptAll(direct).count() == 0
    assert direct.exceptAll(view).count() == 0
    spark.catalog.clearCache()
