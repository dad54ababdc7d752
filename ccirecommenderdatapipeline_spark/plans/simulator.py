"""Driver queries for the trade simulator + strategy selection (SURVEY.md
W6/J6/A1/A2/A7; reference daily_function.py:686-1100).

Every query here reads the one simulator kernel (operators/simulator.py):
``simulate_trades`` for trade rows, ``simulate_aggregate`` for the
aggregates. The DuckDB oracles are generated from the same grid constants
and re-express the forward-window first-match independently, as SQL
windows plus list lambdas (list_transform + list_position); the money and
ratio totals are exact on both sides, so results hash-match exactly.

Grids are reduced for the oracle gate (the driver collects + hashes rows;
the full 4,860-combo grid yields tens of millions of trade rows at sf0.01 —
that scale is exercised Spark-only in bench.py's best_return_full_grid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.planmemo import shared_view
from ..operators.simulator import (
    DEFAULT_GRID,
    best_by,
    simulate_aggregate,
    simulate_trades,
)
from .cci import CCI_ORACLE_BODY, cci_view
from .registry import query

# Oracle-gated grids (reference full grid: app.py:41-44 = 6x10x9x9).
SIM_GRID = {
    "holding_days": [5, 20],
    "target_return": [3, 8],
    "buy_threshold": [-100, -40],
    "stop_threshold": [60, 20],
}
AGG_GRID = {
    "holding_days": [5, 20, 60],
    "target_return": [2, 5, 10],
    "buy_threshold": [-100, -60, -20],
    "stop_threshold": [100, 60, 20],
}


def agged_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared sim->aggregate subtree on the oracle grid, persisted
    lazily. The selection queries over it (reco x3, buy_candidates,
    order_sizing, pareto_strategies) all read this one ~|symbols| x
    81-combo aggregate; plan-matched caching means the expensive pipeline
    runs once per session instead of once per query branch. The aggregate
    itself is tiny (|symbols| x |grid| rows), so the cache cost is
    negligible at any scale.

    BEST_YEARS includes "all", whose per-symbol slice is the whole
    history — the kernel's "all" depth runs the identical code path
    (fsd None -> select-all mask) as the years=None build, so this view is
    EXACTLY the search_years='all' slice of ``agged_years_view``. Deriving
    it that way means ONE simulate-aggregate pass serves both persisted
    views instead of two (pinned by tests/test_search_years.py::
    test_agged_view_is_years_all_slice); every consumer's DuckDB oracle
    replays the simulation independently."""
    return shared_view(
        spark, "agged_view", sf_dir,
        lambda: agged_years_view(spark, sf_dir)
        .where(F.col("search_years") == "all")
        .drop("search_years"),
        StorageLevel.MEMORY_AND_DISK,
    )


def _sim_cte(grid: dict, years: list | None = None) -> str:
    """The simulator pipeline as DuckDB CTEs. ``years`` (e.g. ["1", "all"])
    injects the reference's search-history depth dimension: per-symbol max
    date, depth VALUES table, inclusive ``date >= max - y years`` filter
    (daily_function.py:670-682), and (symbol, search_years) partition keys
    everywhere downstream."""
    x_max = max(grid["holding_days"])
    # CAST: DuckDB VALUES literals like -100.0 are DECIMAL, not DOUBLE
    buy_vals = ", ".join(f"(CAST({float(b)} AS DOUBLE))" for b in grid["buy_threshold"])
    combo_vals = ", ".join(
        f"({x}, {r}, CAST({float(s)} AS DOUBLE))"
        for x in grid["holding_days"]
        for r in grid["target_return"]
        for s in grid["stop_threshold"]
    )
    if years is None:
        years_cte = ""
        src = "cci"
        keys = "symbol"
    else:
        years_vals = ", ".join(
            f"('{y}', {'CAST(NULL AS INTEGER)' if y == 'all' else int(y)})" for y in years
        )
        years_cte = f"""
, yrs AS (SELECT * FROM (VALUES {years_vals}) y(search_years, n_years))
, maxd AS (SELECT symbol, MAX(date) AS max_d FROM cci GROUP BY symbol)
, cci_y AS (
    SELECT c.*, y.search_years
    FROM cci c JOIN maxd m ON m.symbol = c.symbol CROSS JOIN yrs y
    WHERE y.n_years IS NULL
       OR c.date >= CAST(m.max_d - to_months(12 * y.n_years) AS DATE)
)"""
        src = "cci_y"
        keys = "symbol, search_years"
    return (
        CCI_ORACLE_BODY
        + years_cte
        + f"""
, seq AS (
    SELECT {keys}, date, open_pr, open_cci,
           LAG(open_cci) OVER w AS prev_cci,
           list(struct_pack(d := date, cp := close_pr, cc := close_cci))
               OVER fw AS future
    FROM {src}
    WINDOW w AS (PARTITION BY {keys} ORDER BY date),
           fw AS (PARTITION BY {keys} ORDER BY date
                  ROWS BETWEEN 1 FOLLOWING AND {x_max} FOLLOWING)
), buys AS (
    SELECT {keys}, date AS buy_date, open_pr AS buy_price,
           b.condition_buy_cci_threshold, future, len(future) AS flen
    FROM seq CROSS JOIN (VALUES {buy_vals}) b(condition_buy_cci_threshold)
    WHERE prev_cci < b.condition_buy_cci_threshold
      AND open_cci > b.condition_buy_cci_threshold
      AND len(future) >= 1
), combos AS (
    SELECT * FROM (VALUES {combo_vals})
    c(condition_holding_days, condition_target_return, condition_stop_loss_cci_threshold)
), hits AS (
    -- NULLIF: DuckDB list_position returns 0 (not NULL) when absent
    SELECT *,
        NULLIF(list_position(list_transform(future,
            f -> f.cp >= buy_price * (1 + condition_target_return / 100.0)), true), 0) AS t0,
        NULLIF(list_position(list_transform(future,
            f -> f.cc <= condition_stop_loss_cci_threshold), true), 0) AS s0
    FROM buys CROSS JOIN combos
), gated AS (
    SELECT *,
        CASE WHEN t0 <= condition_holding_days THEN t0 END AS t_hit,
        CASE WHEN s0 <= condition_holding_days THEN s0 END AS s_hit
    FROM hits
), outcome AS (
    SELECT *,
        (t_hit IS NOT NULL AND (s_hit IS NULL OR t_hit < s_hit)) AS is_target,
        (NOT (t_hit IS NOT NULL AND (s_hit IS NULL OR t_hit < s_hit))
         AND s_hit IS NOT NULL) AS is_stop
    FROM gated
), trades AS (
    SELECT {keys}, buy_date, buy_price,
        condition_holding_days, condition_target_return,
        condition_buy_cci_threshold, condition_stop_loss_cci_threshold,
        CASE WHEN is_target THEN future[t_hit].d  END AS reach_target_date,
        CASE WHEN is_target THEN future[t_hit].cp END AS reach_target_price,
        CASE WHEN is_stop   THEN future[s_hit].d  END AS stop_loss_date,
        CASE WHEN is_stop   THEN future[s_hit].cp END AS stop_loss_price,
        CASE WHEN NOT is_target AND NOT is_stop
             THEN future[least(condition_holding_days, flen)].d  END AS maturity_date,
        CASE WHEN NOT is_target AND NOT is_stop
             THEN future[least(condition_holding_days, flen)].cp END AS maturity_price,
        CASE WHEN is_target THEN 'reach_target'
             WHEN is_stop   THEN 'stop_loss'
             ELSE 'maturity' END AS trade_result
    FROM outcome
), trades2 AS (
    SELECT *,
        COALESCE(reach_target_date, stop_loss_date, maturity_date)    AS sell_date,
        COALESCE(reach_target_price, stop_loss_price, maturity_price) AS sell_price
    FROM trades
), trades3 AS (
    SELECT *,
        CAST(CASE WHEN trade_result = 'maturity' THEN condition_holding_days
                  ELSE date_diff('day', buy_date, sell_date) END AS INTEGER) AS days_held
    FROM trades2
)
"""
    )


TRADE_COLS = """symbol, buy_date, buy_price,
       condition_holding_days, condition_target_return,
       condition_buy_cci_threshold, condition_stop_loss_cci_threshold,
       reach_target_date, reach_target_price, stop_loss_date, stop_loss_price,
       maturity_date, maturity_price, sell_date, sell_price, days_held, trade_result"""

def _agg_sql(keys: str = "symbol") -> str:
    return f"""
, agged AS (
    SELECT {keys},
        condition_holding_days, condition_target_return,
        condition_buy_cci_threshold, condition_stop_loss_cci_threshold,
        CAST(COUNT(DISTINCT buy_date)          AS BIGINT) AS count_buy_date,
        CAST(COUNT(DISTINCT reach_target_date) AS BIGINT) AS count_reach_target_date,
        CAST(COUNT(DISTINCT stop_loss_date)    AS BIGINT) AS count_stop_loss_date,
        CAST(COUNT(DISTINCT maturity_date)     AS BIGINT) AS count_maturity_date,
        CAST(SUM(CASE WHEN sell_price > buy_price THEN 1 ELSE 0 END) AS BIGINT) AS count_win,
        CAST(SUM(CASE WHEN sell_price < buy_price THEN 1 ELSE 0 END) AS BIGINT) AS count_lose,
        CAST(SUM(CAST(FLOOR(CAST(ROUND((sell_price - buy_price) * 10000)
                                 AS BIGINT) * 10000 / days_held + 0.5)
                      AS DECIMAL(28,0))
                 * CAST(0.00000001 AS DECIMAL(9,8)))
             AS DOUBLE) AS sum_revenue_per_days_held,
        CAST(SUM(days_held) AS BIGINT) AS sum_days_held,
        CAST(COUNT(*) AS BIGINT)       AS count_trades,
        CAST(SUM(CAST(buy_price  AS DECIMAL(28,4))) AS DOUBLE) AS total_buy_price,
        CAST(SUM(CAST(sell_price AS DECIMAL(28,2))) AS DOUBLE) AS total_sell_price
    FROM trades3
    GROUP BY {keys}, condition_holding_days, condition_target_return,
             condition_buy_cci_threshold, condition_stop_loss_cci_threshold
), rates AS (
    SELECT *,
        sum_revenue_per_days_held / count_trades AS avg_revenue_per_days_held,
        sum_days_held / count_trades             AS avg_days_held,
        100.0 * count_win  / count_buy_date      AS win_rate,
        100.0 * count_lose / count_buy_date      AS lose_rate,
        total_sell_price - total_buy_price       AS total_revenue,
        (total_sell_price - total_buy_price) / total_buy_price * 100.0 AS revenue_rate,
        100.0 * count_reach_target_date / count_buy_date AS reach_target_date_count_per_buy_date_count,
        100.0 * count_stop_loss_date    / count_buy_date AS stop_loss_date_count_per_buy_date_count,
        100.0 * count_maturity_date     / count_buy_date AS maturity_date_count_per_buy_date_count
    FROM agged
)
"""


AGG_SQL = _agg_sql()


def _best_cte(keys: str = "symbol") -> str:
    # double braces: the {metric} placeholder survives for .format()
    return f"""
, ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {{metric}} DESC,
        condition_holding_days, condition_target_return,
        condition_buy_cci_threshold, condition_stop_loss_cci_threshold) AS __rn
    FROM rates
), best AS (
    SELECT {keys},
           condition_holding_days, condition_target_return,
           condition_buy_cci_threshold, condition_stop_loss_cci_threshold,
           count_buy_date, count_win, count_lose, avg_days_held,
           win_rate, revenue_rate, avg_revenue_per_days_held, total_revenue
    FROM ranked WHERE __rn = 1
)
"""


BEST_CTE = _best_cte()

# Depths exercised by the oracle-gated best_* queries: one bounded slice and
# the reference's default "all" (app.py:45-46 ships ["all"]; the loop at
# daily_function.py:704/1041 supports any mix of ints and "all").
BEST_YEARS = ["1", "all"]
YEARS_KEYS = "symbol, search_years"


@query("trades_sim", oracle="WITH " + _sim_cte(SIM_GRID) + "SELECT " + TRADE_COLS + " FROM trades3")
def q_trades_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6+J6: the simulator itself (reduced 2x2x2x2 grid)."""
    return simulate_trades(cci_view(spark, sf_dir), SIM_GRID)


@query(
    "strategy_agg",
    oracle="WITH " + _sim_cte(AGG_GRID) + AGG_SQL + "SELECT * FROM rates",
)
def q_strategy_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: per (symbol x condition) outcome aggregation (3^4 grid),
    served by the shared kernel aggregate (``agged_view``)."""
    return agged_view(spark, sf_dir)


def agged_years_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The search-years-keyed sim->aggregate subtree shared by the three
    best_* queries (persisted lazily, same plan-matched caching rationale as
    ``agged_view``). Output grain: (symbol, search_years, grid combo).

    ``simulate_aggregate(years=...)`` computes the per-buy outcome grid
    once per symbol, and each depth is a masked re-sum inside the same
    Arrow batch; the DuckDB oracle replays the simulation once per depth
    slice, so the oracle gate re-proves the depth semantics."""
    return shared_view(
        spark, "agged_years_view", sf_dir,
        lambda: simulate_aggregate(
            cci_view(spark, sf_dir), AGG_GRID, years=BEST_YEARS
        ),
        StorageLevel.MEMORY_AND_DISK,
    )


_BEST_YEARS_COLS = (
    "symbol", "search_years",
    "condition_holding_days", "condition_target_return",
    "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
    "count_buy_date", "count_win", "count_lose", "avg_days_held",
    "win_rate", "revenue_rate", "avg_revenue_per_days_held", "total_revenue",
)


def _best_query(metric: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        agged = agged_years_view(spark, sf_dir)
        return best_by(agged, metric, extra_keys=("search_years",)).select(
            *_BEST_YEARS_COLS
        )

    fn.__doc__ = (
        f"A7: best strategy per (symbol, search_years) by {metric} "
        "(daily_function.py:1041-1100: the best tables are keyed by the "
        "search-history depth; depths exercised here: 1 year and 'all')."
    )
    return fn


for _metric, _name in [
    ("win_rate", "best_win"),
    ("revenue_rate", "best_return"),
    ("avg_revenue_per_days_held", "best_return_per_days_held"),
]:
    query(
        _name,
        oracle="WITH "
        + _sim_cte(AGG_GRID, years=BEST_YEARS)
        + _agg_sql(YEARS_KEYS)
        + (_best_cte(YEARS_KEYS) + "SELECT * FROM best").format(metric=_metric),
    )(_best_query(_metric))


DEPTH3_YEARS = ["1", "3", "all"]


@query(
    "best_return_depth3",
    oracle="WITH "
    + _sim_cte(SIM_GRID, years=DEPTH3_YEARS)
    + _agg_sql(YEARS_KEYS)
    + (_best_cte(YEARS_KEYS) + "SELECT * FROM best").format(metric="revenue_rate"),
)
def q_best_return_depth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 at a THIRD search depth (1y / 3y / all): pins the kernel's
    masked depth re-sums against the oracle's per-depth replay at a depth
    that is neither the trivial slice nor the full history — the 3y
    boundary lands mid-fixture, so off-by-one boundary bugs (inclusive vs
    exclusive first-slice-date) would surface here. Reduced 2x2x2x2 grid
    keeps the three-way oracle replay cheap."""
    agged = simulate_aggregate(cci_view(spark, sf_dir), SIM_GRID, years=DEPTH3_YEARS)
    return best_by(agged, "revenue_rate", extra_keys=("search_years",)).select(
        *_BEST_YEARS_COLS
    )

_FULL_BEST_COLS = (
    "symbol, condition_holding_days, condition_target_return, "
    "condition_buy_cci_threshold, condition_stop_loss_cci_threshold, "
    "count_buy_date, win_rate, revenue_rate, total_revenue"
)


@query(
    "best_return_full_grid",
    oracle="WITH "
    + _sim_cte(DEFAULT_GRID)
    + AGG_SQL
    + (BEST_CTE + f"SELECT {_FULL_BEST_COLS} FROM best").format(
        metric="revenue_rate"
    ),
)
def q_best_return_full_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full workload (app.py:41-44): 6x10x9x9 = 4,860 combos
    per symbol — 467M logical trades at sf0.1, aggregated inside the
    kernel's per-symbol batches (no trade row is materialized) to one best
    strategy per symbol. The DuckDB oracle replays the FULL 4,860-combo
    grid through the same CTE pipeline the reduced-grid queries use
    (~19 s at sf0.01), so the flagship path is hash-checked against an
    independent engine."""
    agged = simulate_aggregate(cci_view(spark, sf_dir))
    return best_by(agged, "revenue_rate").select(
        "symbol",
        "condition_holding_days", "condition_target_return",
        "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
        "count_buy_date", "win_rate", "revenue_rate", "total_revenue",
    )


# --- Pareto frontier over the strategy grid ----------------------------------

_PARETO_COLS = (
    "condition_holding_days", "condition_target_return",
    "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
)


@query(
    "pareto_strategies",
    oracle="WITH " + _sim_cte(AGG_GRID) + AGG_SQL + """
SELECT symbol, condition_holding_days, condition_target_return,
       condition_buy_cci_threshold, condition_stop_loss_cci_threshold,
       win_rate, revenue_rate
FROM rates a
WHERE NOT EXISTS (
    SELECT 1 FROM rates b
    WHERE b.symbol = a.symbol
      AND b.win_rate >= a.win_rate AND b.revenue_rate >= a.revenue_rate
      AND (b.win_rate > a.win_rate OR b.revenue_rate > a.revenue_rate)
)
""",
)
def q_pareto_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy selection as a Pareto frontier instead of a single argmax:
    per symbol, every grid combo not dominated on BOTH win_rate and
    revenue_rate (best_by picks one metric's winner; a portfolio chooses
    along the frontier). Dominance is a per-symbol anti-join: equi-key on
    symbol, the >=/> residual evaluated on the joined row — |grid|^2
    comparisons per symbol with |grid| a plan constant (81), so the work is
    linear in symbols and shuffles once on the symbol key, riding the same
    persisted sim->aggregate subtree as the other eight selection queries.
    Rates are exact IEEE divisions of integer aggregates, so cross-engine
    comparisons are bit-stable."""
    a = agged_view(spark, sf_dir).select(
        "symbol", *_PARETO_COLS, "win_rate", "revenue_rate"
    )
    b = a.select(
        F.col("symbol").alias("b_symbol"),
        F.col("win_rate").alias("b_wr"),
        F.col("revenue_rate").alias("b_rr"),
    )
    dom = (
        (a["symbol"] == b["b_symbol"])
        & (b["b_wr"] >= a["win_rate"])
        & (b["b_rr"] >= a["revenue_rate"])
        & ((b["b_wr"] > a["win_rate"]) | (b["b_rr"] > a["revenue_rate"]))
    )
    return a.join(b, dom, "left_anti")
