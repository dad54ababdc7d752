"""Bucketing demonstration (SURVEY §7.8 scaling passes): two tables bucketed
by symbol join WITHOUT a shuffle — the layout that makes every per-symbol
join/window in the daily pipeline exchange-free at 100 TB.

Lives as a test (not a driver-contract query) because bucketing metadata
needs a session-lifetime catalog; the properties asserted are the plan shape
(no Exchange) and result equality with the plain join.
"""

from __future__ import annotations

import contextlib
import io
import shutil

from pyspark.sql import functions as F

from ccirecommenderdatapipeline_spark.sources.prices import prices_view
from tests.conftest import SF_SMALL


def test_bucketed_join_is_shuffle_free(spark):
    prices = prices_view(spark, SF_SMALL)
    stats = prices.groupBy("symbol").agg(
        F.avg("close_pr").alias("avg_close"), F.count("*").alias("n_days")
    )
    for name, df in [("b_prices", prices), ("b_stats", stats)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # the in-memory catalog forgets tables between sessions but their
        # files survive -> clear the location or saveAsTable refuses
        shutil.rmtree(f"/tmp/spark_graft_warehouse/{name}", ignore_errors=True)
        (
            df.write.mode("overwrite")
            .bucketBy(8, "symbol")
            .sortBy("symbol")
            .saveAsTable(name)
        )

    # force the sort-merge path (the fixture's stats side is small enough to
    # auto-broadcast, which would hide the bucketing) — at real scale both
    # sides are large and SMJ is what the planner picks anyway
    joined = spark.table("b_prices").hint("merge").join(spark.table("b_stats"), "symbol")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    # co-located bucketed join: a join with NO shuffle on either side
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan

    plain = prices.join(stats, "symbol")
    assert joined.count() == plain.count()
    got = joined.agg(F.sum("n_days"), F.round(F.sum("close_pr"), 2)).first()
    exp = plain.agg(F.sum("n_days"), F.round(F.sum("close_pr"), 2)).first()
    assert got == exp


def test_bucketed_cci_feeds_simulator_shuffle_free(spark):
    """The 100x layout story for the lifecycle family: materialize the CCI
    table bucketed+sorted by symbol (the persistent form of plans/cci.py's
    session cache), and the simulator's per-symbol grouped map consumes it
    with NO shuffle exchange: the bucketed scan's hash partitioning
    satisfies the groupBy's required distribution."""
    from ccirecommenderdatapipeline_spark.operators.simulator import simulate_trades
    from ccirecommenderdatapipeline_spark.plans.cci import cci_view

    cci = cci_view(spark, SF_SMALL)
    name = "b_cci"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"/tmp/spark_graft_warehouse/{name}", ignore_errors=True)
    (
        cci.write.mode("overwrite")
        .bucketBy(8, "symbol")
        .sortBy("symbol", "date")
        .saveAsTable(name)
    )

    grid = {
        "holding_days": [3, 7],
        "target_return": [2, 6],
        "buy_threshold": [-100.0, -50.0],
        "stop_threshold": [40.0],
    }
    trades_bucketed = simulate_trades(spark.table(name), grid)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        trades_bucketed.explain("formatted")
    plan = buf.getvalue()
    assert "FlatMapGroupsInPandas" in plan
    assert "Exchange hashpartitioning" not in plan, plan

    trades_plain = simulate_trades(cci, grid)
    assert trades_bucketed.count() == trades_plain.count()
    assert trades_bucketed.exceptAll(trades_plain).count() == 0
