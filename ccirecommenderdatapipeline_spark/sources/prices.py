"""The ``prices`` view: a daily OHLCV-shaped series derived from testdata.

The reference's price table is one row per (symbol, date) with
open/high/low/close/volume (daily_function.py:358-366, renames :415-420).
TESTDATA.md gives no stock data, so the fixture series is derived
deterministically from ``lineitem``: symbol = l_suppkey (few hundred symbols
with hundreds of rows each — the same shape as the reference's 600 symbols x
~6,000 days), date = day(l_shipdate), prices = discount/tax-adjusted
aggregates. The aggregation guarantees exactly one row per (symbol, date) so
every downstream ``ORDER BY date`` window is deterministic.

Numeric determinism contract (applies engine-wide, see plans/registry.py):
cross-engine (Spark vs DuckDB oracle) double equality holds only for
(1) per-row arithmetic over bit-identical inputs, and (2) multi-row SUMs of
decimal-exact values rounded at (or finer than) their exact decimal scale.
AVG of money is forbidden — its true value lands exactly on rounding
half-boundaries where the engines' round() implementations diverge. Hence:
open_pr = SUM of 4-decimal-exact products rounded at 4; high/low = exact
picks (MIN/MAX of identically-computed doubles); close_pr = SUM of 2-decimal
money rounded at 2; volume = exact integer sum.

Scale note: at 100 TB, this groupBy is a map-side-combinable hash aggregate
keyed (symbol, date); the result would be written bucketed by symbol so every
later per-symbol window/join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.planmemo import shared_view
from .tables import load_table


def prices_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (symbol, date): symbol, date, open_pr, high_pr, low_pr,
    close_pr, daily_trade_stock. Mirrors daily_function.py:415-420's canonical
    rename target. The built lazy plan is a shared view (~40
    queries embed this chain; see operators/planmemo.py)."""
    return shared_view(
        spark, "prices_view", sf_dir, lambda: _build_prices_view(spark, sf_dir)
    )


def _build_prices_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_suppkey").cast("string").alias("symbol"),
            F.to_date("l_shipdate").alias("date"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("open_pr"),
            F.max("l_extendedprice").alias("high_pr"),
            F.min(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 - F.col("l_tax"))).alias("low_pr"),
            F.round(F.sum("l_extendedprice"), 2).alias("close_pr"),
            F.sum("l_quantity").cast("long").alias("daily_trade_stock"),
        )
    )


# DuckDB-side equivalent, kept textually adjacent so the two stay in sync.
PRICES_ORACLE_CTE = """
prices AS (
    SELECT
        CAST(l_suppkey AS VARCHAR)                AS symbol,
        CAST(l_shipdate AS DATE)                  AS date,
        ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)                 AS open_pr,
        MAX(l_extendedprice)                                              AS high_pr,
        MIN(l_extendedprice * (1 - l_discount) * (1 - l_tax))             AS low_pr,
        ROUND(SUM(l_extendedprice), 2)                                    AS close_pr,
        CAST(SUM(l_quantity) AS BIGINT)           AS daily_trade_stock
    FROM lineitem
    GROUP BY 1, 2
)
"""
