"""E2/E3 — the reco + order lifecycle as set-wise join pipelines
(SURVEY.md §3 E2/E3; reference daily_function.py:1180-1932).

The reference runs these as per-symbol/per-row driver loops with live REST
fetches; here every loop collapses into a join against the latest-CCI state
(computed once for all symbols), exactly the "Spark shape" called out in
SURVEY §3 E2.4/E3.3. Fee/tax revenue math uses the conventional rates in
``schemas.FEE_RATE``/``TAX_RATE`` (the reference's values are gitignored
config; daily_function.py:1743-1744, 1901-1908).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.literals import literal_table
from ..operators.simulator import best_by
from ..operators.windows import bounded_window, latest_rows, symbol_date_window
from ..schemas import FEE_RATE, TAX_RATE
from ..sources.tables import load_table
from .cci import cci_view
from .registry import query
from .simulator import AGG_GRID, AGG_SQL, BEST_CTE, SIM_GRID, _sim_cte, agged_view

# Latest two rows per symbol pivoted wide: the reference's iloc[-1]/iloc[-2]
# pair (daily_function.py:1211-1216, 1446-1448). MAX(CASE WHEN rn=...) is an
# exact pick of an existing double, so both engines agree bit-for-bit.
LATEST_CTE = """
, rn2 AS (
    SELECT symbol, date, open_pr, close_pr, open_cci, close_cci,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date DESC) AS rn
    FROM cci
), latest AS (
    SELECT symbol,
        MAX(CASE WHEN rn = 1 THEN date END)      AS last_date,
        MAX(CASE WHEN rn = 1 THEN open_pr END)   AS last_open_pr,
        MAX(CASE WHEN rn = 1 THEN close_pr END)  AS last_close_pr,
        MAX(CASE WHEN rn = 1 THEN open_cci END)  AS current_open_cci,
        MAX(CASE WHEN rn = 1 THEN close_cci END) AS last_close_cci,
        MAX(CASE WHEN rn = 2 THEN open_cci END)  AS pre_open_cci
    FROM rn2 WHERE rn <= 2
    GROUP BY symbol
)
"""


def _latest_wide(cci: DataFrame) -> DataFrame:
    """Spark mirror of LATEST_CTE — one row per symbol."""
    rn = latest_rows(cci, k=2)

    def pick(r: int, col: str):
        return F.max(F.when(F.col("rn") == r, F.col(col)))

    return rn.groupBy("symbol").agg(
        pick(1, "date").alias("last_date"),
        pick(1, "open_pr").alias("last_open_pr"),
        pick(1, "close_pr").alias("last_close_pr"),
        pick(1, "open_cci").alias("current_open_cci"),
        pick(1, "close_cci").alias("last_close_cci"),
        pick(2, "open_cci").alias("pre_open_cci"),
    )


def _names_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 lookup dimension: symbol -> name (daily_function.py:819-821, 1412)."""
    return load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("string").alias("symbol"),
        F.col("s_name").alias("name"),
    )


_RECO_ORACLE_TAIL = """
, names AS (SELECT CAST(s_suppkey AS VARCHAR) AS symbol, s_name AS name FROM supplier)
SELECT b.symbol, n.name, l.last_date AS reco_date,
       l.last_open_pr AS buy_price, l.current_open_cci, l.pre_open_cci,
       b.condition_holding_days, b.condition_target_return,
       b.condition_buy_cci_threshold, b.condition_stop_loss_cci_threshold,
       b.count_buy_date, b.win_rate, b.revenue_rate
FROM best b
JOIN latest l ON l.symbol = b.symbol
LEFT JOIN names n ON n.symbol = b.symbol
WHERE l.pre_open_cci < b.condition_buy_cci_threshold
  AND l.current_open_cci >= b.condition_buy_cci_threshold
"""


def _reco_query(metric: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cci = cci_view(spark, sf_dir)
        best = best_by(agged_view(spark, sf_dir), metric)
        latest = _latest_wide(cci)
        thr = F.col("condition_buy_cci_threshold")
        return (
            best.join(latest, "symbol")
            .filter((F.col("pre_open_cci") < thr) & (F.col("current_open_cci") >= thr))
            .join(F.broadcast(_names_dim(spark, sf_dir)), "symbol", "left")
            .select(
                "symbol", "name",
                F.col("last_date").alias("reco_date"),
                F.col("last_open_pr").alias("buy_price"),
                "current_open_cci", "pre_open_cci",
                "condition_holding_days", "condition_target_return",
                "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
                "count_buy_date", "win_rate", "revenue_rate",
            )
        )

    fn.__doc__ = (
        "E2 reco scan (daily_function.py:1180-1243): best strategy per symbol "
        "joined to the latest CCI state; the W4' crossover uses >= (:1217), "
        "deliberately different from the simulator's strict > (:725). The "
        f"per-symbol fetch loop becomes one broadcast-joined set operation; "
        f"best table ranked by {metric} — the reference emits one reco table "
        "per selection criterion (:1245-1271)."
    )
    return fn


# 'recommendations' keeps its original name (= the revenue_rate table);
# reco_win / reco_revenue_per_days_held mirror the reference's other two.
for _metric, _qname in [
    ("revenue_rate", "recommendations"),
    ("win_rate", "reco_win"),
    ("avg_revenue_per_days_held", "reco_revenue_per_days_held"),
]:
    query(
        _qname,
        oracle="WITH "
        + _sim_cte(AGG_GRID)
        + AGG_SQL
        + BEST_CTE.format(metric=_metric)
        + LATEST_CTE
        + _RECO_ORACLE_TAIL,
    )(_reco_query(_metric))


@query(
    "buy_candidates",
    oracle="WITH "
    + _sim_cte(AGG_GRID)
    + AGG_SQL
    + BEST_CTE.format(metric="win_rate")
    + """
, thr AS (
    SELECT quantile_cont(win_rate, 0.7)      AS t1,
           quantile_cont(count_win, 0.3)     AS t2,
           quantile_cont(avg_days_held, 1.0) AS t3
    FROM best
), cand AS (
    SELECT symbol,
           condition_holding_days, condition_target_return,
           condition_buy_cci_threshold, condition_stop_loss_cci_threshold,
           count_buy_date, count_win, avg_days_held, win_rate, revenue_rate,
           ROW_NUMBER() OVER (ORDER BY win_rate DESC, revenue_rate DESC, symbol) AS cand_rank
    FROM best, thr
    WHERE win_rate >= thr.t1 AND count_win >= thr.t2 AND avg_days_held <= thr.t3
)
SELECT * FROM cand WHERE cand_rank <= 20
""",
)
def q_buy_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 candidate selection (daily_function.py:1302-1345): thresholds are
    the reference's quantile composition over the best-by-win_rate table —
    win_rate >= quantile(0.7) (:1316, the quantile form of threshold1; the
    checked-in literal 90.0 at :1317 yields zero candidates on fixture
    data), count_win >= quantile(0.3) (:1318), avg_days_held <= quantile(1)
    (:1319, i.e. the max) — computed as a broadcast one-row percentile agg
    crossJoined back in (a scalar subquery, no driver action, no shuffle).
    Spark ``percentile`` and DuckDB ``quantile_cont`` both
    linear-interpolate (pandas default); an interpolated threshold sits
    strictly between two adjacent sorted values (or exactly on one), so
    engine ULP differences cannot flip row membership. P9 conjunctive
    filter + O1 multi-key sort + O2 deterministic top-20; the global window
    runs over a ~|symbols|-row aggregate, bounded by the symbol universe,
    not the fact table."""
    best = best_by(agged_view(spark, sf_dir), "win_rate")
    thr = best.agg(
        F.percentile("win_rate", F.lit(0.7)).alias("t1"),
        F.percentile("count_win", F.lit(0.3)).alias("t2"),
        F.percentile("avg_days_held", F.lit(1.0)).alias("t3"),
    )
    w = bounded_window(
        F.desc("win_rate"), F.desc("revenue_rate"), F.asc("symbol"),
        bound="best-per-symbol aggregate: <= |symbol universe| rows",
        queries=("buy_candidates",),
    )
    return (
        best.crossJoin(F.broadcast(thr))
        .filter(
            (F.col("win_rate") >= F.col("t1"))
            & (F.col("count_win") >= F.col("t2"))
            & (F.col("avg_days_held") <= F.col("t3"))
        )
        .select(
            "symbol",
            "condition_holding_days", "condition_target_return",
            "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
            "count_buy_date", "count_win", "avg_days_held", "win_rate", "revenue_rate",
        )
        .withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= 20)
    )


@query(
    "sell_decisions",
    oracle="WITH "
    + _sim_cte(SIM_GRID)
    + LATEST_CTE
    + f"""
, positions AS (
    SELECT DISTINCT symbol, buy_date, buy_price,
           condition_holding_days, condition_target_return,
           condition_stop_loss_cci_threshold
    FROM trades3
), decided AS (
    SELECT p.*,
        l.last_date, l.last_close_pr, l.last_close_cci,
        CAST(round_even(p.buy_price * (1 + (p.condition_target_return
            + {100 * TAX_RATE} + {100 * FEE_RATE}) / 100.0), 0) AS BIGINT)
            AS sell_target_price,
        CAST(date_diff('day', p.buy_date, l.last_date) AS INTEGER) AS position_age_days
    FROM positions p
    JOIN latest l ON l.symbol = p.symbol
)
SELECT *,
    CASE WHEN position_age_days >= condition_holding_days THEN 'maturity'
         WHEN last_close_pr > sell_target_price           THEN 'reach_target'
         WHEN last_close_cci <= condition_stop_loss_cci_threshold THEN 'stop_loss'
         ELSE 'hold' END AS decision
FROM decided
""",
)
def q_sell_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 sell scan (daily_function.py:1713-1797): open positions vs latest
    state. The target price is the reference's additive gross-up
    ``int(round(buy * (1 + (r + tax + fee)/100), 0))`` (:1743-1744; tax/fee
    there are percent units — Spark ``bround`` == Python/DuckDB banker's
    rounding) and the target comparison is strict ``>`` (:1793); decision
    precedence maturity -> target -> stop-loss (:1786-1797) as a when-chain.
    Positions here = the simulator's buy events on the reduced grid, which
    read no trade outcome: a row is a buy when any buy threshold crosses
    (the simulator's strict crossover) and it is not the symbol's last row
    (a trade needs a forward window), crossed with the broadcast
    (holding, return, stop) combos."""
    cci = cci_view(spark, sf_dir)
    w = symbol_date_window()
    prev = F.lag("open_cci").over(w)
    crosses = [
        (prev < float(b)) & (F.col("open_cci") > float(b))
        for b in SIM_GRID["buy_threshold"]
    ]
    is_buy = reduce(lambda a, c: a | c, crosses) & F.lead("date").over(w).isNotNull()
    buys = (
        cci.select(
            "symbol",
            F.col("date").alias("buy_date"),
            F.col("open_pr").alias("buy_price"),
            is_buy.alias("__buy"),
        )
        .filter("__buy")
        .drop("__buy")
    )
    combos = literal_table(
        spark,
        [
            (x, r, float(s))
            for x in SIM_GRID["holding_days"]
            for r in SIM_GRID["target_return"]
            for s in SIM_GRID["stop_threshold"]
        ],
        "condition_holding_days INT, condition_target_return INT, "
        "condition_stop_loss_cci_threshold DOUBLE",
    )
    positions = buys.crossJoin(F.broadcast(combos))
    latest = _latest_wide(cci).select(
        "symbol", "last_date", "last_close_pr", "last_close_cci"
    )
    d = positions.join(latest, "symbol").withColumns({
        "sell_target_price": F.bround(
            F.col("buy_price")
            * (1 + (F.col("condition_target_return") + 100 * TAX_RATE + 100 * FEE_RATE) / 100.0),
            0,
        ).cast("long"),
        "position_age_days": F.datediff("last_date", "buy_date").cast("int"),
    })
    return d.withColumn(
        "decision",
        F.when(F.col("position_age_days") >= F.col("condition_holding_days"), "maturity")
        .when(F.col("last_close_pr") > F.col("sell_target_price"), "reach_target")
        .when(F.col("last_close_cci") <= F.col("condition_stop_loss_cci_threshold"), "stop_loss")
        .otherwise("hold"),
    )


@query(
    "order_reconciliation",
    oracle=f"""
WITH hist AS (
    SELECT o_orderkey AS order_no, CAST(o_orderdate AS DATE) AS buy_date,
           o_totalprice AS buy_amount
    FROM orders
), exec AS (
    SELECT l_orderkey AS order_no,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS real_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sell_amount,
           MAX(CAST(l_shipdate AS DATE)) AS sell_date
    FROM lineitem GROUP BY 1
), joined AS (
    SELECT h.order_no, h.buy_date, h.buy_amount,
           e.real_qty, e.sell_amount, e.sell_date,
           h.buy_amount * (1 + {FEE_RATE})              AS buy_cost,
           e.sell_amount * (1 - {FEE_RATE} - {TAX_RATE}) AS sell_net
    FROM hist h JOIN exec e ON e.order_no = h.order_no
    WHERE e.real_qty > 0
)
SELECT order_no, buy_date, buy_amount, real_qty, sell_amount, sell_date,
       sell_net - buy_cost                         AS revenue,
       (sell_net - buy_cost) / buy_cost * 100.0    AS revenue_rate,
       CASE WHEN sell_net > buy_cost THEN 'win' ELSE 'lose' END AS trade_result,
       CAST(date_diff('day', buy_date, sell_date) AS INTEGER)   AS days_held
FROM joined
""",
)
def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 reconcile (daily_function.py:1827-1932): executions matched to order
    history (J2), P7 executed-qty filter, win/lose classification by net
    proceeds (:1893-1899), fee/tax revenue math (:1901-1908). The orders
    fixture is the history; lineitem aggregated per order is the execution
    ledger."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hist = o.select(
        F.col("o_orderkey").alias("order_no"),
        F.to_date("o_orderdate").alias("buy_date"),
        F.col("o_totalprice").alias("buy_amount"),
    )
    ex = li.groupBy(F.col("l_orderkey").alias("order_no")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("real_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sell_amount"),
        F.max(F.to_date("l_shipdate")).alias("sell_date"),
    )
    j = (
        hist.join(ex, "order_no")
        .filter(F.col("real_qty") > 0)
        .withColumns({
            "buy_cost": F.col("buy_amount") * (1 + FEE_RATE),
            "sell_net": F.col("sell_amount") * (1 - FEE_RATE - TAX_RATE),
        })
    )
    return j.select(
        "order_no", "buy_date", "buy_amount", "real_qty", "sell_amount", "sell_date",
        (F.col("sell_net") - F.col("buy_cost")).alias("revenue"),
        ((F.col("sell_net") - F.col("buy_cost")) / F.col("buy_cost") * 100.0).alias("revenue_rate"),
        F.when(F.col("sell_net") > F.col("buy_cost"), "win").otherwise("lose").alias("trade_result"),
        F.datediff("sell_date", "buy_date").cast("int").alias("days_held"),
    )


@query(
    "trading_calendar",
    oracle="""
WITH cal AS (
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
), holidays AS (
    SELECT * FROM (VALUES (DATE '1995-01-01'), (DATE '1996-01-01'),
                          (DATE '1997-01-01'), (DATE '1998-01-01'),
                          (DATE '1995-12-25'), (DATE '1996-12-25'),
                          (DATE '1997-12-25')) h(d)
), flagged AS (
    SELECT c.d,
           (dayofweek(c.d) IN (0, 6)) OR (h.d IS NOT NULL) AS is_closed
    FROM cal c LEFT JOIN holidays h ON h.d = c.d
)
SELECT CAST(EXTRACT(YEAR FROM d) AS INTEGER)  AS y,
       CAST(EXTRACT(MONTH FROM d) AS INTEGER) AS m,
       CAST(COUNT(*) AS BIGINT)               AS n_days,
       CAST(SUM(CASE WHEN is_closed THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
       CAST(SUM(CASE WHEN is_closed THEN 0 ELSE 1 END) AS BIGINT) AS n_trading
FROM flagged
GROUP BY 1, 2
""",
)
def q_trading_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 holiday gating (daily_function.py:114; app.py:54): the is_holiday
    predicate as a broadcast holiday-dim left join + weekend test, aggregated
    per month. Spark dayofweek is 1=Sun..7=Sat (DuckDB 0=Sun..6=Sat)."""
    o = load_table(spark, sf_dir, "orders")
    cal = o.select(F.to_date("o_orderdate").alias("d")).distinct()
    holidays = literal_table(
        o.sparkSession,
        [(d,) for d in ["1995-01-01", "1996-01-01", "1997-01-01", "1998-01-01",
                        "1995-12-25", "1996-12-25", "1997-12-25"]],
        "hd STRING",
    ).select(F.col("hd").cast("date").alias("hd"))
    flagged = cal.join(
        F.broadcast(holidays), cal["d"] == holidays["hd"], "left"
    ).select(
        "d",
        (F.dayofweek("d").isin(1, 7) | F.col("hd").isNotNull()).alias("is_closed"),
    )
    return flagged.groupBy(
        F.year("d").alias("y"), F.month("d").alias("m")
    ).agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("is_closed").cast("long")).alias("n_closed"),
        F.sum((~F.col("is_closed")).cast("long")).alias("n_trading"),
    )


@query(
    "symbol_universe",
    oracle="""
WITH typed AS (
    SELECT CAST(s_suppkey AS VARCHAR) AS symbol,
           s_name AS name,
           CASE WHEN s_suppkey % 2 = 0 THEN 'stock' ELSE 'etf' END AS type,
           s_acctbal AS total_stock
    FROM supplier
), filtered AS (
    SELECT t.* FROM typed t
    LEFT JOIN (SELECT CAST(s_suppkey AS VARCHAR) AS symbol FROM supplier
               WHERE s_suppkey % 97 = 0) adm ON adm.symbol = t.symbol
    WHERE adm.symbol IS NULL AND t.total_stock > 0
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY type
                                 ORDER BY total_stock DESC, symbol) AS rn
    FROM filtered
)
SELECT type, symbol, name, total_stock FROM ranked WHERE rn <= 300
""",
)
def q_symbol_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 stage 1 (daily_function.py:185-291): the symbol universe — listing
    scan (S4), stock/ETF typing, administrative anti-join (J3, :234-237),
    positive-stock filter (P7, :263), and the 300-per-type cap (O2,
    :920-921) under a deterministic ordering. The per-ETF REST enrich loop
    (S5, :250-258) is replaced by set-wise derivation — SURVEY OP8."""
    sup = load_table(spark, sf_dir, "supplier")
    typed = sup.select(
        F.col("s_suppkey").cast("string").alias("symbol"),
        F.col("s_name").alias("name"),
        F.when(F.col("s_suppkey") % 2 == 0, "stock").otherwise("etf").alias("type"),
        F.col("s_acctbal").alias("total_stock"),
    )
    admin = sup.filter(F.col("s_suppkey") % 97 == 0).select(
        F.col("s_suppkey").cast("string").alias("symbol")
    )
    filtered = typed.join(F.broadcast(admin), "symbol", "left_anti").filter(
        F.col("total_stock") > 0
    )
    w = Window.partitionBy("type").orderBy(F.desc("total_stock"), F.asc("symbol"))
    return (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 300)
        .select("type", "symbol", "name", "total_stock")
    )


@query(
    "order_sizing",
    oracle="WITH "
    + _sim_cte(AGG_GRID)
    + AGG_SQL
    + BEST_CTE.format(metric="win_rate")
    + LATEST_CTE
    + """
, cand AS (
    SELECT b.symbol, l.last_open_pr AS buy_price
    FROM best b JOIN latest l ON l.symbol = b.symbol
    WHERE b.win_rate >= 50.0 AND b.count_buy_date >= 3
), budgeted AS (
    SELECT symbol, buy_price,
           1000000.0 / (SELECT COUNT(*) FROM cand) AS budget_per_symbol
    FROM cand
)
SELECT symbol, buy_price, budget_per_symbol,
       CAST(FLOOR(budget_per_symbol / buy_price) AS BIGINT) AS order_qty,
       FLOOR(budget_per_symbol / buy_price) * buy_price     AS order_amount
FROM budgeted
WHERE FLOOR(budget_per_symbol / buy_price) >= 1
""",
)
def q_order_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 budget sizing (daily_function.py:1462-1475): the account balance
    (S7; fixed budget literal here — the live balance is a connector scan)
    split evenly over candidates, order qty = floor(budget / price), zero-
    qty candidates dropped (P7). The candidate count enters as a scalar
    subquery — broadcast, not a shuffle."""
    cci = cci_view(spark, sf_dir)
    best = best_by(agged_view(spark, sf_dir), "win_rate")
    latest = _latest_wide(cci).select("symbol", F.col("last_open_pr").alias("buy_price"))
    cand = (
        best.filter((F.col("win_rate") >= 50.0) & (F.col("count_buy_date") >= 3))
        .select("symbol")
        .join(latest, "symbol")
    )
    # Candidate count as a broadcast one-row agg crossJoin: the whole query
    # stays ONE lazy plan (no driver-side action), and the scalar reaches
    # every row without a shuffle.
    n_row = F.broadcast(cand.agg(F.count("*").cast("double").alias("__n_cand")))
    budget = F.lit(1_000_000.0) / F.col("__n_cand")
    sized = cand.crossJoin(n_row).withColumns({
        "budget_per_symbol": budget,
        "order_qty": F.floor(budget / F.col("buy_price")).cast("long"),
        "order_amount": F.floor(budget / F.col("buy_price")) * F.col("buy_price"),
    })
    return sized.filter(F.col("order_qty") >= 1).select(
        "symbol", "buy_price", "budget_per_symbol", "order_qty", "order_amount"
    )

