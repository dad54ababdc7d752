"""The operational daily pipeline — the reference's three entry points as
chained DataFrame jobs writing parquet tables (SURVEY.md §3):

- E1 ``execute_pipeline`` (app.py:49-90, daily_function.py:904-1138):
  symbol universe -> prices -> CCI -> full strategy simulation -> the three
  best-strategy tables.
- E2 signal scan (daily_function.py:1180-1243): recommendations.
- E3 exit scan (daily_function.py:1713-1824): sell decisions.

Where the reference fans out a ProcessPoolExecutor per symbol and
checkpoints per-symbol CSVs, this is twelve lazy DataFrames whose only
materialization points are their parquet writes — task retries and
idempotent overwrite replace the resume machinery (S13).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import plans


# E1 stage tables -> the query registry entry that computes each
E1_TABLES = {
    "symbol_list": "symbol_universe",
    "prices": "prices",
    "cci": "cci",
    "best_win": "best_win",
    "best_return": "best_return",
    "best_return_per_days_held": "best_return_per_days_held",
}
E2_TABLES = {
    "reco_revenue": "recommendations",
    "reco_win": "reco_win",
    "reco_revenue_per_days_held": "reco_revenue_per_days_held",
    "buy_candidates": "buy_candidates",
}
E3_TABLES = {"sell_decisions": "sell_decisions", "order_reconciliation": "order_reconciliation"}


def run_daily_batch(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Run E1+E2+E3 end to end; returns row counts per written table.

    Each table is an idempotent, unpartitioned parquet overwrite at
    ``out_dir/<table>``. Its row count is observed while the write runs
    (``DataFrame.observe``), so the write stays the table's only
    materialization and nothing is read back to count it; an empty table
    reports 0. At scale, bucket prices/cci by symbol (tests/test_bucketing.py
    has the layout)."""
    counts: dict[str, int] = {}
    for stage in (E1_TABLES, E2_TABLES, E3_TABLES):
        for table, query_name in stage.items():
            df: DataFrame = plans.QUERIES[query_name](spark, sf_dir)
            obs = Observation(table)
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite").parquet(os.path.join(out_dir, table))
            counts[table] = obs.get["rows"]
    return counts
