"""Canonical schemas and constants — the one cast layer.

The reference reads every CSV stringly (``dtype=str``) and re-casts at each
use site (its daily_function.py:279,438,624,1183 etc.). Here every table
gets exactly one typed schema; downstream code never casts.

Domain tables mirror FIXTURES.md section 2; testdata tables (TESTDATA.md) are
parquet and carry their own schema — constants below are for reference only.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Conventional CCI window length (reference config.py is gitignored; BASELINE.md
# documents cci_ndays with conventional n=20).
CCI_NDAYS = 20

# Brokerage fee / transaction-tax rates used in the order lifecycle's revenue
# math (daily_function.py:1743-1744, 1901-1908). The reference's actual values
# live in the gitignored config.py; these are the conventional KR retail rates.
FEE_RATE = 0.00015
TAX_RATE = 0.0023

# Strategy grid (reference app.py:41-44): 6 x 10 x 9 x 9 = 4,860 combos.
GRID_HOLDING_DAYS = [5, 10, 20, 30, 40, 60]
GRID_TARGET_RETURN = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
GRID_BUY_THRESHOLD = [-100, -90, -80, -70, -60, -50, -40, -30, -20]
GRID_STOP_THRESHOLD = [100, 90, 80, 70, 60, 50, 40, 30, 20]

DAILY_PRICE_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("date", T.DateType()),
    T.StructField("open_pr", T.DoubleType()),
    T.StructField("high_pr", T.DoubleType()),
    T.StructField("low_pr", T.DoubleType()),
    T.StructField("close_pr", T.DoubleType()),
    T.StructField("daily_trade_stock", T.LongType()),
])

CCI_SCHEMA = T.StructType(
    DAILY_PRICE_SCHEMA.fields + [
        T.StructField("close_TP", T.DoubleType()),
        T.StructField("open_TP", T.DoubleType()),
        T.StructField("close_sma", T.DoubleType()),
        T.StructField("open_sma", T.DoubleType()),
        T.StructField("close_mad", T.DoubleType()),
        T.StructField("open_mad", T.DoubleType()),
        T.StructField("close_cci", T.DoubleType()),
        T.StructField("open_cci", T.DoubleType()),
    ]
)

TRADE_SCHEMA = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("buy_date", T.DateType()),
    T.StructField("buy_price", T.DoubleType()),
    T.StructField("condition_holding_days", T.IntegerType()),
    T.StructField("condition_target_return", T.IntegerType()),
    T.StructField("condition_buy_cci_threshold", T.DoubleType()),
    T.StructField("condition_stop_loss_cci_threshold", T.DoubleType()),
    T.StructField("reach_target_date", T.DateType()),
    T.StructField("reach_target_price", T.DoubleType()),
    T.StructField("stop_loss_date", T.DateType()),
    T.StructField("stop_loss_price", T.DoubleType()),
    T.StructField("maturity_date", T.DateType()),
    T.StructField("maturity_price", T.DoubleType()),
    T.StructField("sell_date", T.DateType()),
    T.StructField("sell_price", T.DoubleType()),
    T.StructField("days_held", T.IntegerType()),
    T.StructField("trade_result", T.StringType()),  # 'reach_target' | 'stop_loss' | 'maturity'
])

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
