"""Domain queries: the CCI indicator pipeline (SURVEY.md W1-W5, E1 stage 4).

Each query's DuckDB oracle recomputes the identical math in SQL; the rolling
MAD (W2) — Spark's one genuinely custom window — is expressed in DuckDB with
``list(...) OVER w`` + list lambdas, mirroring the collect_list+aggregate HOF
plan (operators/windows.py:rolling_mad).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.planmemo import shared_view
from ..operators.windows import with_buy_signal, with_cci, latest_rows
from ..sources.prices import PRICES_ORACLE_CTE, prices_view
from .registry import query

# Shared oracle text: prices -> raw TP -> windowed stats -> rounded CCI.
# Layered CTEs keep window references out of lambda bodies.
CCI_ORACLE_BODY = PRICES_ORACLE_CTE + """
, tp AS (
    SELECT *,
        (high_pr + low_pr + close_pr) / 3 AS close_TP,
        (high_pr + low_pr + open_pr)  / 3 AS open_TP
    FROM prices
), win AS (
    SELECT *,
        COUNT(*) OVER w            AS w_cnt,
        list(close_TP) OVER w      AS close_lst,
        list(open_TP) OVER w       AS open_lst
    FROM tp
    WINDOW w AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), stats AS (
    SELECT *,
        CASE WHEN w_cnt >= 20 THEN list_sum(close_lst) / 20 END AS close_sma,
        CASE WHEN w_cnt >= 20 THEN list_sum(open_lst) / 20  END AS open_sma,
        CASE WHEN w_cnt >= 20 THEN list_sum(
            list_transform(close_lst, x -> ABS(x - list_sum(close_lst) / 20))) / 20 END AS close_mad,
        CASE WHEN w_cnt >= 20 THEN list_sum(
            list_transform(open_lst, x -> ABS(x - list_sum(open_lst) / 20))) / 20  END AS open_mad
    FROM win
), cci AS (
    SELECT
        symbol, date, open_pr, high_pr, low_pr, close_pr, daily_trade_stock,
        close_TP, open_TP, close_sma, open_sma, close_mad, open_mad,
        CASE WHEN close_mad IS NOT NULL AND close_mad <> 0
             THEN (close_TP - close_sma) / (0.015 * close_mad) END AS close_cci,
        CASE WHEN open_mad IS NOT NULL AND open_mad <> 0
             THEN (open_TP - open_sma) / (0.015 * open_mad)  END AS open_cci
    FROM stats
)
"""


def cci_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prices -> CCI pipeline, persisted (lazily) at MEMORY_AND_DISK.

    Every lifecycle/simulator query references this subtree from 2+ branches
    (simulate + latest-state), and the bench/driver sessions run many such
    queries back to back. ``persist`` is declarative — no action fires here —
    and Spark's CacheManager matches by analyzed plan, so every query built
    from the same (sf_dir) shares ONE InMemoryRelation instead of re-running
    the scan->window pipeline per branch (the round-1 "cci computed twice per
    DAG" anti-pattern). Footprint is ~15 doubles per price row — MB-scale at
    test SFs. At 1000-executor scale the same role is played by the bucketed
    materialized CCI table (plans/storage.py bucketing battery / SCALING.md);
    the in-memory cache is the single-session form of that layout.

    It is a ``shared_view`` (operators/planmemo.py): one built plan per
    session and snapshot of ``sf_dir``, unpersisted when another dir or a
    changed snapshot replaces it, and re-persisted only after a
    ``clearCache()`` dropped it.
    """
    return shared_view(
        spark, "cci_view", sf_dir,
        lambda: with_cci(prices_view(spark, sf_dir)),
        StorageLevel.MEMORY_AND_DISK,
    )


@query("prices", oracle="WITH " + PRICES_ORACLE_CTE + " SELECT * FROM prices")
def q_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P1: canonical OHLCV projection (daily_function.py:415-420)."""
    return prices_view(spark, sf_dir)


@query("cci", oracle="WITH " + CCI_ORACLE_BODY + " SELECT * FROM cci")
def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W3: SMA + rolling MAD + CCI (daily_function.py:584-595)."""
    return cci_view(spark, sf_dir)


@query(
    "buy_signals",
    oracle="WITH " + CCI_ORACLE_BODY + """
, lagged AS (
    SELECT symbol, date, open_pr, open_cci,
           LAG(open_cci) OVER (PARTITION BY symbol ORDER BY date) AS prev_cci
    FROM cci
)
SELECT symbol, date, open_pr, open_cci
FROM lagged
WHERE prev_cci < -100.0 AND open_cci > -100.0
""",
)
def q_buy_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: strict crossover buy signal (daily_function.py:724-725), thr=-100."""
    cci = cci_view(spark, sf_dir)
    return (
        with_buy_signal(cci, -100.0, strict=True)
        .filter("buy_signal")
        .select("symbol", "date", "open_pr", "open_cci")
    )


@query(
    "signal_counts",
    oracle="WITH " + CCI_ORACLE_BODY + """
, lagged AS (
    SELECT symbol, date, open_cci, close_cci,
           LAG(open_cci) OVER (PARTITION BY symbol ORDER BY date) AS prev_cci
    FROM cci
)
SELECT symbol,
       COUNT(*)                                       AS n_days,
       CAST(SUM(CASE WHEN prev_cci < -100.0 AND open_cci > -100.0
                     THEN 1 ELSE 0 END) AS BIGINT)    AS n_signals,
       MAX(date)                                      AS last_date
FROM lagged
GROUP BY symbol
""",
)
def q_signal_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: per-symbol day + signal counts — the flagship summary."""
    cci = with_buy_signal(cci_view(spark, sf_dir), -100.0, strict=True)
    return cci.groupBy("symbol").agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("buy_signal").cast("long")).alias("n_signals"),
        F.max("date").alias("last_date"),
    )


@query(
    "latest_cci",
    oracle="WITH " + CCI_ORACLE_BODY + """
, rn AS (
    SELECT symbol, date, close_pr, open_cci, close_cci,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date DESC) AS rn
    FROM cci
)
SELECT symbol, date, close_pr, open_cci, close_cci, rn
FROM rn WHERE rn <= 2
""",
)
def q_latest_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: iloc[-1]/iloc[-2] positional indexing (daily_function.py:1211-1216)
    as a descending row_number per symbol."""
    cci = cci_view(spark, sf_dir)
    return latest_rows(cci, k=2).select(
        "symbol", "date", "close_pr", "open_cci", "close_cci", "rn"
    )


@query(
    "bollinger_bands",
    oracle="WITH " + PRICES_ORACLE_CTE + """
, win AS (
    SELECT symbol, date, close_pr,
           COUNT(*) OVER w AS w_cnt,
           list(close_pr) OVER w AS lst
    FROM prices
    WINDOW w AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
), stats AS (
    SELECT symbol, date, close_pr,
        CASE WHEN w_cnt >= 20 THEN list_sum(lst) / 20 END AS sma,
        CASE WHEN w_cnt >= 20 THEN sqrt(list_sum(
            list_transform(lst, x -> (x - list_sum(lst) / 20)
                                   * (x - list_sum(lst) / 20))) / 20) END AS sd
    FROM win
)
SELECT symbol, date, close_pr,
       ROUND(sma, 6)            AS sma20,
       ROUND(sma + 2 * sd, 6)   AS upper_band,
       ROUND(sma - 2 * sd, 6)   AS lower_band,
       CASE WHEN sd IS NOT NULL AND sd <> 0
            THEN ROUND((close_pr - (sma - 2 * sd)) / (4 * sd), 6) END AS pct_b
FROM stats
""",
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20, 2): rolling mean +/- 2 population stddevs and
    the %B position — the second classic indicator next to CCI, sharing its
    exact-window discipline: the stddev is computed from the SAME
    collect_list fold as the SMA (sequential sums over the 20-row window,
    bit-identical across engines; sqrt is IEEE-exact), partial windows null.
    One symbol shuffle serves all three band columns.

    Eval-once staging (r9 bench-tail audit): the mean and sd folds are
    MATERIALIZED as intermediate projection columns before the columns
    that reference them. Inlining the mean expression into the variance
    lambda made the interpreted HOF re-run the 20-element mean fold per
    ELEMENT (400 fold steps/row), and re-inlining mean/sd into four
    output columns multiplied it again — CollapseProject keeps a
    projection boundary when a non-cheap expression is referenced more
    than once, so each fold now evaluates once per row (8.8s -> ~1s at
    sf0.01). Fold ORDER is unchanged, so results stay bit-identical to
    the oracle."""
    ROLL_N = 20  # same window as the CCI SMA/MAD (operators/windows.py)

    pr = prices_view(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(-(ROLL_N - 1), 0)
    staged = pr.select(
        "symbol", "date", "close_pr",
        F.count("*").over(w).alias("w_cnt"),
        F.collect_list("close_pr").over(w).alias("lst"),
    ).select(
        "symbol", "date", "close_pr", "w_cnt", "lst",
        (F.aggregate("lst", F.lit(0.0), lambda a, x: a + x) / ROLL_N).alias(
            "mean_v"
        ),
    ).select(
        "symbol", "date", "close_pr", "w_cnt", "mean_v",
        F.sqrt(
            F.aggregate(
                F.transform(
                    "lst",
                    lambda x: (x - F.col("mean_v")) * (x - F.col("mean_v")),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / ROLL_N
        ).alias("sd_v"),
    )
    full = F.col("w_cnt") >= ROLL_N
    sma_c = F.when(full, F.col("mean_v"))
    sd_c = F.when(full, F.col("sd_v"))
    return staged.select(
        "symbol", "date", "close_pr",
        F.round(sma_c, 6).alias("sma20"),
        F.round(sma_c + 2 * sd_c, 6).alias("upper_band"),
        F.round(sma_c - 2 * sd_c, 6).alias("lower_band"),
        F.when(
            full & (F.col("sd_v") != 0),
            F.round(
                (F.col("close_pr") - (sma_c - 2 * sd_c)) / (4 * sd_c), 6
            ),
        ).alias("pct_b"),
    )


@query(
    "max_drawdown",
    oracle="WITH " + PRICES_ORACLE_CTE + """
, runmax AS (
    SELECT symbol, date, close_pr,
           MAX(close_pr) OVER (PARTITION BY symbol ORDER BY date
                               ROWS UNBOUNDED PRECEDING) AS peak
    FROM prices
), dd AS (
    SELECT symbol, date, close_pr, peak,
           ROUND((peak - close_pr) / peak, 8) AS drawdown
    FROM runmax
)
SELECT symbol,
       ROUND(MAX(drawdown), 8)  AS max_drawdown,
       MIN(date) FILTER (WHERE drawdown = (
           SELECT MAX(d2.drawdown) FROM dd d2 WHERE d2.symbol = dd.symbol
       ))                       AS trough_date,
       ROUND(MAX(peak), 4)      AS all_time_peak
FROM dd
GROUP BY symbol
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per symbol: running peak (expanding-window max),
    per-row drawdown ratio, then the per-symbol max with the FIRST trough
    date as the deterministic tie-break. The running max and the final agg
    share the symbol partitioning — one shuffle total; drawdown ratios are
    rounded before comparison so the argmax picks identical rows in both
    engines."""
    pr = prices_view(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("date").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = pr.select(
        "symbol", "date", "close_pr",
        F.max("close_pr").over(w).alias("peak"),
    ).withColumn(
        "drawdown", F.round((F.col("peak") - F.col("close_pr")) / F.col("peak"), 8)
    )
    dd = dd.withColumn(
        "sym_max", F.max("drawdown").over(Window.partitionBy("symbol"))
    )
    return dd.groupBy("symbol").agg(
        F.round(F.max("drawdown"), 8).alias("max_drawdown"),
        F.min(
            F.when(F.col("drawdown") == F.col("sym_max"), F.col("date"))
        ).alias("trough_date"),
        F.round(F.max("peak"), 4).alias("all_time_peak"),
    )


@query(
    "ewma_latest",
    oracle="WITH " + PRICES_ORACLE_CTE + """
, ordered AS (
    SELECT symbol, list(close_pr ORDER BY date) AS xs,
           MAX(date) AS last_date, CAST(COUNT(*) AS BIGINT) AS n_days
    FROM prices GROUP BY symbol
)
SELECT symbol, last_date, n_days,
       ROUND(list_reduce(xs, (e, x) -> 0.5 * x + 0.5 * e), 6) AS ewma_half
FROM ordered
""",
)
def q_ewma_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol EWMA of the close price with alpha = 1/2, evaluated at the
    latest row: a SEQUENTIAL left fold over the date-ordered history
    (e := x/2 + e/2). alpha = 1/2 keeps every weight a power of two, and
    the fold order is pinned on both engines, so the recursion is
    bit-identical — the one alpha where an EWMA can pass an exact
    cross-engine gate. One groupBy per symbol; state is O(1) per symbol
    (the fold), not O(history)."""
    pr = prices_view(spark, sf_dir)
    ordered = pr.groupBy("symbol").agg(
        F.array_sort(
            F.collect_list(F.struct("date", "close_pr"))
        ).alias("rows"),
        F.max("date").alias("last_date"),
        F.count("*").alias("n_days"),
    )
    xs = F.transform("rows", lambda r: r["close_pr"])
    fold = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda e, x: 0.5 * x + 0.5 * e,
    )
    return ordered.select(
        "symbol", "last_date", "n_days", F.round(fold, 6).alias("ewma_half")
    )


@query(
    "rsi_simple",
    oracle="WITH " + PRICES_ORACLE_CTE + """
, diffs AS (
    SELECT symbol, date, close_pr,
           close_pr - LAG(close_pr) OVER w AS chg
    FROM prices
    WINDOW w AS (PARTITION BY symbol ORDER BY date)
), win AS (
    SELECT symbol, date,
           COUNT(chg) OVER fw AS w_cnt,
           list(CASE WHEN chg > 0 THEN chg ELSE 0 END) OVER fw AS gains,
           list(CASE WHEN chg < 0 THEN -chg ELSE 0 END) OVER fw AS losses
    FROM diffs WHERE chg IS NOT NULL
    WINDOW fw AS (PARTITION BY symbol ORDER BY date
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, date,
       ROUND(CASE WHEN list_sum(losses) = 0 THEN 100.0
            ELSE 100.0 - 100.0 / (1 + list_sum(gains) / list_sum(losses)) END,
            6) AS rsi14
FROM win WHERE w_cnt >= 14
""",
)
def q_rsi_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI(14), simple-average form: day-over-day gains/losses summed over
    the trailing 14 changes via the same pinned-order list fold as the CCI
    windows (Wilder's recursive smoothing uses alpha = 1/14, which is not
    binary-exact — the SMA form is the one an exact cross-engine gate can
    pin; see ewma_latest for the exact-alpha recursion). All-gain windows
    saturate at 100 by convention. One symbol shuffle serves the lag and
    the rolling window."""
    pr = prices_view(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("date")
    fw = w.rowsBetween(-13, 0)
    diffs = pr.select(
        "symbol", "date",
        (F.col("close_pr") - F.lag("close_pr").over(w)).alias("chg"),
    ).filter(F.col("chg").isNotNull())
    gains = F.collect_list(F.when(F.col("chg") > 0, F.col("chg")).otherwise(0.0)).over(fw)
    losses = F.collect_list(F.when(F.col("chg") < 0, -F.col("chg")).otherwise(0.0)).over(fw)
    gsum = F.aggregate(gains, F.lit(0.0), lambda a, x: a + x)
    lsum = F.aggregate(losses, F.lit(0.0), lambda a, x: a + x)
    rsi = F.when(lsum == 0, F.lit(100.0)).otherwise(
        100.0 - 100.0 / (1 + gsum / lsum)
    )
    return (
        diffs.select(
            "symbol", "date",
            F.count("chg").over(fw).alias("w_cnt"),
            F.round(rsi, 6).alias("rsi14"),
        )
        .filter(F.col("w_cnt") >= 14)
        .drop("w_cnt")
    )


# --- calendar RANGE window: value-based frame over trading-day gaps ---------

_RANGE7_BODY = """
SELECT symbol, date, close_pr,
       CAST(COUNT(*) OVER (PARTITION BY symbol ORDER BY date
            RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_in_window,
       ROUND(CAST(SUM(CAST(ROUND(close_pr, 2) AS DECIMAL(18,2)))
                  OVER (PARTITION BY symbol ORDER BY date
                        RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW)
             AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY symbol ORDER BY date
                  RANGE BETWEEN INTERVAL '6' DAY PRECEDING AND CURRENT ROW),
             6) AS avg_close_7d
FROM prices
"""


@query("range_interval_window", oracle="WITH " + PRICES_ORACLE_CTE + _RANGE7_BODY)
def q_range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-RANGE window frame: trailing 7-calendar-day average close
    per symbol — a VALUE-based frame (RANGE + INTERVAL bound on the date
    order key), not a row-count frame, so weekend/holiday gaps shrink the
    window (n_in_window varies 1..7 while a ROWS frame would always hold
    7). The frame sum is DECIMAL-exact before the single double division.
    Same text on both engines; Spark evaluates it with one running frame
    per symbol partition — same shuffle profile as every other per-symbol
    window in the repo (bucketed layout applies)."""
    prices_view(spark, sf_dir).createOrReplaceTempView("prices")
    return spark.sql(_RANGE7_BODY)


# --- rolling correlation (engine-exact windowed moments) ---------------------

ROLLCORR_W = 30


@query(
    "rolling_correlation",
    oracle=f"""
WITH {PRICES_ORACLE_CTE},
mom AS (
    SELECT symbol, date,
        CAST(COUNT(*) OVER w AS BIGINT) AS n,
        CAST(SUM(CAST(close_pr AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
        CAST(SUM(daily_trade_stock) OVER w AS DOUBLE) AS sy,
        CAST(SUM(CAST(ROUND(close_pr * daily_trade_stock, 2)
                 AS DECIMAL(28,2))) OVER w AS DOUBLE) AS sxy,
        CAST(SUM(CAST(ROUND(close_pr * close_pr, 4)
                 AS DECIMAL(32,4))) OVER w AS DOUBLE) AS sxx,
        CAST(SUM(daily_trade_stock * daily_trade_stock) OVER w AS DOUBLE) AS syy
    FROM prices
    WINDOW w AS (PARTITION BY symbol ORDER BY date
                 ROWS BETWEEN {ROLLCORR_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT symbol, date,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) AS corr30
FROM mom
WHERE n = {ROLLCORR_W} AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
)
def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day price/volume correlation per symbol — the windowed
    sibling of ``stats_correlation`` and a standard quant feature. The five
    moments are WINDOWED DECIMAL-exact sums over one (symbol, date)
    partitioning (order-independent within the frame), the closed form is
    per-row IEEE, and the result is rounded at 8 decimals (the a*b - c*d
    FMA-contraction lesson). Partial leading windows are excluded by the
    exact n = {ROLLCORR_W} gate. ONE shuffle; every moment shares the same
    window frame, so Spark evaluates all five in a single Window node."""
    p = prices_view(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("date")
        .rowsBetween(-(ROLLCORR_W - 1), 0)
    )
    mom = p.select(
        "symbol", "date",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("close_pr").cast("decimal(18,2)")).over(w).cast("double").alias("sx"),
        F.sum("daily_trade_stock").over(w).cast("double").alias("sy"),
        F.sum(
            F.round(F.col("close_pr") * F.col("daily_trade_stock"), 2)
            .cast("decimal(28,2)")
        ).over(w).cast("double").alias("sxy"),
        F.sum(
            F.round(F.col("close_pr") * F.col("close_pr"), 4).cast("decimal(32,4)")
        ).over(w).cast("double").alias("sxx"),
        F.sum(
            F.col("daily_trade_stock") * F.col("daily_trade_stock")
        ).over(w).cast("double").alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        mom.filter((F.col("n") == ROLLCORR_W) & (varx > 0) & (vary > 0))
        .select(
            "symbol", "date",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.sqrt(varx) * F.sqrt(vary)),
                8,
            ).alias("corr30"),
        )
    )


# --- CUSUM drift detection (data-quality / regime monitoring) ----------------

@query(
    "cusum_drift",
    oracle=f"""
WITH {PRICES_ORACLE_CTE},
stats AS (
    SELECT symbol,
           SUM(CAST(close_pr AS DECIMAL(18,2))) AS s_tot,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM prices GROUP BY symbol
), dev AS (
    -- exact scaled deviation: close*n - total  ==  n * (close - mean),
    -- a positive monotone transform of the cusum (argmax preserved) that
    -- needs NO rounding — round(close - mean, 2) hit half-tie cases where
    -- Spark (HALF_UP) and DuckDB disagree
    SELECT p.symbol, p.date,
           CAST(p.close_pr AS DECIMAL(18,2)) * s.n - s.s_tot AS d,
           s.n
    FROM prices p JOIN stats s USING (symbol)
), cusum AS (
    SELECT symbol, date, n,
           CAST(SUM(d) OVER (PARTITION BY symbol ORDER BY date
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / n AS c
    FROM dev
)
SELECT symbol, date AS peak_date, c AS peak_cusum, n
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol
              ORDER BY ABS(c) DESC, date) AS rn
    FROM cusum
) WHERE rn = 1 AND n >= 100
""",
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point location per symbol: the date where the running
    sum of (close - symbol mean) peaks in magnitude — the classic
    distribution-drift monitor a data-quality layer runs over any metric
    stream (a stable series oscillates near zero; a level shift sends the
    cusum to its extremum AT the change point). Determinism: the mean is
    one exact-decimal-sum division; deviations are rounded to money scale
    and cumulated as DECIMAL (combine-order exact); the argmax is
    row_number tie-broken on date. The running sum partitions by symbol,
    so every task owns one bounded series — nothing global, unlike the
    sequence-packing prefix sum this repo reworked."""
    p = prices_view(spark, sf_dir)
    # symbol totals as WINDOWS over the same symbol partitioning the
    # running sum needs anyway — the agg-and-join-back form re-scanned
    # prices (2 scans -> 1; the anomaly_mad lesson)
    w_sym = Window.partitionBy("symbol")
    dev = p.select(
        "symbol", "date",
        F.count("*").over(w_sym).alias("n"),
        (
            F.col("close_pr").cast("decimal(18,2)") * F.count("*").over(w_sym)
            - F.sum(F.col("close_pr").cast("decimal(18,2)")).over(w_sym)
        ).alias("d"),
    )
    w_run = Window.partitionBy("symbol").orderBy("date").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cusum = dev.select(
        "symbol", "date", "n",
        (F.sum("d").over(w_run).cast("double") / F.col("n")).alias("c"),
    )
    w_peak = Window.partitionBy("symbol").orderBy(F.abs(F.col("c")).desc(), "date")
    return (
        cusum.withColumn("rn", F.row_number().over(w_peak))
        .filter((F.col("rn") == 1) & (F.col("n") >= 100))
        .select(
            "symbol", F.col("date").alias("peak_date"),
            F.col("c").alias("peak_cusum"), "n",
        )
    )


# --- Holt linear (level + trend) forecast ------------------------------------

HOLT_H = 5  # forecast horizon in trading days


@query(
    "holt_linear_forecast",
    oracle="WITH " + PRICES_ORACLE_CTE + f"""
, ordered AS (
    SELECT symbol, list(close_pr ORDER BY date) AS xs,
           MAX(date) AS last_date, CAST(COUNT(*) AS BIGINT) AS n_days
    FROM prices GROUP BY symbol
), folded AS (
    -- state = [y, level, trend] as a LIST, not a STRUCT: DuckDB's
    -- list_reduce mutates a struct accumulator field-by-field, so a later
    -- field expression referencing a.l would see the NEW level (verified;
    -- list construction builds a fresh value and is safe)
    SELECT symbol, last_date, n_days,
           list_reduce(
               list_prepend(
                   [CAST(0 AS DOUBLE), xs[1], xs[2] - xs[1]],
                   list_transform(xs[3:],
                       x -> [x, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
               (a, x) -> [x[1],
                   0.5 * x[1] + 0.5 * (a[2] + a[3]),
                   0.25 * ((0.5 * x[1] + 0.5 * (a[2] + a[3])) - a[2])
                      + 0.75 * a[3]]) AS st
    FROM ordered WHERE n_days >= 2
)
SELECT symbol, last_date, n_days,
       ROUND(st[2], 6) AS level,
       ROUND(st[3], 6) AS trend,
       ROUND(st[2] + {HOLT_H} * st[3], 6) AS forecast_h5
FROM folded
""",
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per symbol, with
    the {HOLT_H}-day-ahead linear forecast — the next step up from
    ``ewma_latest``'s single-state fold: the recurrence carries a 2-field
    2-field accumulator through the same date-ordered sequential fold
    (Spark ``aggregate`` HOF with a struct; DuckDB ``list_reduce`` with a
    [y, level, trend] LIST — DuckDB's fold mutates struct accumulators
    field-by-field, so a struct state silently reads half-updated values;
    lists build fresh). alpha = 1/2 and beta = 1/4 are dyadic, so every
    smoothing weight is a power of two and the recursion stays bit-exact
    cross-engine (the ewma_latest discipline). Scale: one shuffle on
    symbol; fold state is O(1); history arrays bounded by one symbol's
    days."""
    pr = prices_view(spark, sf_dir)
    ordered = pr.groupBy("symbol").agg(
        F.array_sort(F.collect_list(F.struct("date", "close_pr"))).alias("rows"),
        F.max("date").alias("last_date"),
        F.count("*").alias("n_days"),
    ).filter(F.col("n_days") >= 2)
    xs = F.transform("rows", lambda r: r["close_pr"])
    init = F.struct(
        F.element_at(xs, 1).alias("l"),
        (F.element_at(xs, 2) - F.element_at(xs, 1)).alias("b"),
    )
    rest = F.slice(xs, 3, F.greatest(F.size(xs) - 2, F.lit(0)))

    def step(a, y):
        new_l = 0.5 * y + 0.5 * (a["l"] + a["b"])
        return F.struct(
            new_l.alias("l"),
            (0.25 * (new_l - a["l"]) + 0.75 * a["b"]).alias("b"),
        )

    st = F.aggregate(rest, init, step)
    return ordered.select(
        "symbol", "last_date", F.col("n_days").cast("long").alias("n_days"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + HOLT_H * st["b"], 6).alias("forecast_h5"),
    )


# --- Rolling exact median ----------------------------------------------------

MED_W = 21  # trailing window length (odd: the median is an order statistic)


@query(
    "rolling_median",
    oracle="WITH " + PRICES_ORACLE_CTE + f"""
, win AS (
    SELECT symbol, date, close_pr,
           list(close_pr) OVER (
               PARTITION BY symbol ORDER BY date
               ROWS BETWEEN {MED_W - 1} PRECEDING AND CURRENT ROW) AS xs
    FROM prices
)
SELECT symbol, date, close_pr,
       CASE WHEN len(xs) >= {MED_W}
            THEN list_sort(xs)[{(MED_W + 1) // 2}] END AS med21
FROM win
""",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing {MED_W}-day rolling median of the close — the robust
    counterpart of the SMA (W1), same partial-window->NULL convention. The
    window is odd-length so the median is a pure ORDER STATISTIC (sorted
    middle element): no interpolation, no averaging — the value is one of
    the inputs, so cross-engine equality is exact by construction, not by
    rounding. Implementation is collect_list over the row frame +
    array_sort + element_at — the frame bounds the per-row state at
    {MED_W} values, and the one shuffle is the symbol window sort every
    other indicator already rides."""
    pr = prices_view(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("date")
        .rowsBetween(-(MED_W - 1), Window.currentRow)
    )
    xs = F.collect_list("close_pr").over(w)
    med = F.when(
        F.size(xs) >= MED_W,
        F.element_at(F.array_sort(xs), (MED_W + 1) // 2),
    )
    return pr.select("symbol", "date", "close_pr", med.alias("med21"))


# --- Per-symbol OLS trend line ----------------------------------------------


@query(
    "ols_trend",
    oracle="WITH " + PRICES_ORACLE_CTE + """
, xy AS (
    SELECT symbol,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date) AS x,
           CAST(close_pr AS DECIMAL(18,2)) AS y
    FROM prices
), s AS (
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT)       AS n,
           CAST(SUM(x) AS BIGINT)         AS sx,
           CAST(SUM(x * x) AS BIGINT)     AS sxx,
           SUM(y)                         AS sy,
           SUM(x * y)                     AS sxy,
           SUM(y * y)                     AS syy
    FROM xy GROUP BY symbol HAVING COUNT(*) >= 2
), f AS (
    SELECT symbol, n, sx,
           CAST(sy AS DOUBLE) AS sy_d,
           CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - sx * CAST(sy AS DOUBLE)                     AS num,
           CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS den_x,
           CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)     AS den_y
    FROM s
)
SELECT symbol, CAST(n AS BIGINT) AS n_days,
       ROUND(num / den_x, 8) AS slope,
       ROUND((sy_d - num / den_x * sx) / n, 6) AS intercept,
       ROUND(num * num / NULLIF(den_x * den_y, 0), 8) AS r2
FROM f
""",
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol ordinary-least-squares trend line over the close-price
    series (slope per trading day, intercept, R-squared) — the regression
    primitive behind drift screens and momentum factors, computed the
    map-combinable way: five sufficient-statistic sums per symbol
    (n, SUMx, SUMx2 as exact int64; SUMy, SUMxy, SUMy2 as exact DECIMAL
    over the 2dp close), then closed-form algebra.

    Determinism: every sum is order-independent (int64 / exact decimal);
    the slope/intercept/R2 algebra is a FIXED IEEE double expression
    tree on those bit-identical inputs (ab_test_zscore's discipline) —
    the intercept reuses the UNROUNDED num/den_x subexpression so no
    intermediate re-rounding enters the tree. Output scales match value
    magnitudes (slope/r2 at 8dp; the price-scale intercept at 6dp —
    at 8dp one sf0.01 symbol landed exactly on the cross-engine round()
    half-boundary, the 1ulp divergence class). Constant-price symbols
    get r2 = NULL (NULLIF guard);
    single-day symbols are excluded (slope undefined, HAVING n >= 2).

    100-TB shape: x = ROW_NUMBER over the per-symbol date axis (windows
    partition by symbol — bounded by the calendar, no global sort); the
    moment aggregate is one map-combinable shuffle at symbol grain; the
    closed-form step is map-only over |symbols| rows."""
    # r16: the three money moments fold as EXACT INT64 CENT UNITS (the
    # acf_lags recipe, guide §2.3 narrower types): close_pr converts to
    # cents ONCE per row (the same one decimal(18,2) conversion the old
    # form paid), the sums are codegen long adds, and each group does
    # ONE exact decimal unscale. Value-identical: x*y has exactly 2
    # decimals and y*y exactly 4, so the long sums recover the old
    # decimal sums exactly. Overflow proof (per-symbol n is
    # CALENDAR-bounded, ~7.5k rows for 30 years; observed cents
    # <= 4.2e7): sum(yc) <= n*4.2e7 ~ 3.2e11; sum(x*yc) <= n^2/2*4.2e7
    # ~ 1.2e15; sum(yc^2) <= n*1.8e15 ~ 1.4e16 at sf0.1 (1.3e19/1e4 =
    # 1.4e18 worst-case all-rows-at-max for 30y) — all inside int64,
    # and ANSI mode faults loudly on violation rather than wrapping.
    xw = Window.partitionBy("symbol").orderBy("date")
    xy = prices_view(spark, sf_dir).select(
        "symbol",
        F.row_number().over(xw).alias("x"),
        (F.col("close_pr").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("yc"),
    )

    def _unscale(units_sum, per_unit, dec):
        # exact int64 scaled units -> the identical decimal value the
        # old per-row decimal sum produced (one decimal op per GROUP)
        return units_sum.cast(dec) / F.lit(per_unit)

    s = (
        xy.groupBy("symbol")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            _unscale(F.sum("yc"), 100, "decimal(38,2)").alias("sy"),
            _unscale(
                F.sum(F.col("x") * F.col("yc")), 100, "decimal(38,2)"
            ).alias("sxy"),
            _unscale(
                F.sum(F.col("yc") * F.col("yc")), 10000, "decimal(38,4)"
            ).alias("syy"),
        )
        .where(F.col("n") >= 2)
    )
    n_d = F.col("n").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    syy_d = F.col("syy").cast("double")
    sx_d = F.col("sx").cast("double")
    num = n_d * sxy_d - F.col("sx") * sy_d
    den_x = n_d * F.col("sxx") - sx_d * F.col("sx")
    den_y = n_d * syy_d - sy_d * sy_d
    return s.select(
        "symbol",
        F.col("n").alias("n_days"),
        F.round(num / den_x, 8).alias("slope"),
        F.round((sy_d - num / den_x * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(num * num / F.nullif(den_x * den_y, F.lit(0)), 8).alias("r2"),
    )


# --- Single changepoint detection (binary-segmentation step) -----------------

@query(
    "changepoint_sse",
    oracle="WITH " + PRICES_ORACLE_CTE + """
, y AS (
    SELECT symbol, date,
           CAST(ROUND(close_pr, 2) AS DECIMAL(18,2)) AS y,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date) AS s
    FROM prices
), pre AS (
    SELECT symbol, date, s,
           CAST(SUM(y) OVER (PARTITION BY symbol ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS l1,
           CAST(SUM(y) OVER (PARTITION BY symbol) AS DOUBLE) AS t1,
           COUNT(*) OVER (PARTITION BY symbol) AS n
    FROM y
), sc AS (
    SELECT symbol, date, s, n, l1, t1,
           l1 * l1 / s + (t1 - l1) * (t1 - l1) / (n - s) AS score
    FROM pre WHERE s < n AND n >= 2
), top AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol
                                 ORDER BY score DESC, s ASC) AS rk
    FROM sc
)
SELECT symbol, CAST(n AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS cp_pos, date AS cp_date,
       ROUND(l1 / s, 6)              AS left_mean,
       ROUND((t1 - l1) / (n - s), 6) AS right_mean,
       score - t1 * t1 / n AS sse_gain
FROM top WHERE rk = 1
""",
)
def q_changepoint_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single mean-shift changepoint per symbol — the binary-
    segmentation step (Scott & Knott 1974) behind regime-break screens:
    split position s minimizing total SSE, equivalently maximizing
    score(s) = L(s)^2/s + R(s)^2/(n-s) where L/R are the left/right
    close-price sums. One prefix-sum pass gives every candidate's score;
    no per-split rescans (O(n) per symbol, not O(n^2)).

    Determinism (the ols_trend discipline): prefix sums fold exact
    DECIMAL(18,2) closes (order-independent), the decimal→double casts
    are correctly rounded, and score is a FIXED IEEE expression tree on
    those bit-identical doubles — so the per-symbol argmax (score DESC,
    earlier position on exact ties) picks the same row in both engines
    with NO pre-comparison rounding. Means round once at the edge;
    sse_gain ships UNROUNDED (magnitude ~1e9 puts 6dp past double's
    exact-decimal range, the cross-engine round() 1-ulp class).

    100-TB shape: everything is per-symbol windows over the date axis
    (one symbol-grain shuffle, calendar-bounded partitions) + a
    WindowGroupLimit top-1; no global window, no second scan."""
    w_ord = Window.partitionBy("symbol").orderBy("date")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("symbol")
    y = prices_view(spark, sf_dir).select(
        "symbol",
        "date",
        F.round(F.col("close_pr"), 2).cast("decimal(18,2)").alias("y"),
    )
    pre = y.select(
        "symbol",
        "date",
        F.row_number().over(w_ord).alias("s"),
        F.sum("y").over(w_run).cast("double").alias("l1"),
        F.sum("y").over(w_all).cast("double").alias("t1"),
        F.count("*").over(w_all).alias("n"),
    )
    r1 = F.col("t1") - F.col("l1")
    nr = F.col("n") - F.col("s")
    sc = pre.where((F.col("s") < F.col("n")) & (F.col("n") >= 2)).withColumn(
        "score", F.col("l1") * F.col("l1") / F.col("s") + r1 * r1 / nr
    )
    top = sc.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("symbol").orderBy(F.desc("score"), F.asc("s"))
        ),
    ).where(F.col("rk") == 1)
    return top.select(
        "symbol",
        F.col("n").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("cp_pos"),
        F.col("date").alias("cp_date"),
        F.round(F.col("l1") / F.col("s"), 6).alias("left_mean"),
        F.round(r1 / nr, 6).alias("right_mean"),
        # UNROUNDED (jl_projection discipline): gain magnitudes reach
        # ~1e9+, where 6dp exceeds double's exact-decimal range and the
        # engines' round() algorithms diverge by 1 ulp — but the raw
        # doubles are bit-identical (exact decimal sums -> fixed tree).
        (F.col("score") - F.col("t1") * F.col("t1") / F.col("n")).alias(
            "sse_gain"
        ),
    )


# --- Walk-forward (rolling-origin) evaluation --------------------------------

WF_FOLDS = 4


@query(
    "walk_forward_eval",
    oracle="WITH " + PRICES_ORACLE_CTE + f"""
, bounds AS (
    SELECT MIN(date) AS lo, MAX(date) AS hi,
           CAST(hi - lo AS BIGINT) AS span
    FROM prices
), folds AS (
    SELECT k,
           lo + CAST(FLOOR(k * span / {WF_FOLDS + 1}) AS INTEGER) AS cut,
           CASE WHEN k = {WF_FOLDS} THEN hi
                ELSE lo + CAST(FLOOR((k + 1) * span / {WF_FOLDS + 1}) AS INTEGER)
           END AS cut_next
    FROM bounds, (SELECT unnest(range(1, {WF_FOLDS + 1})) AS k)
), pred AS (
    SELECT f.k, p.symbol, max_by(p.close_pr, p.date) AS yhat
    FROM prices p JOIN folds f ON p.date <= f.cut
    GROUP BY 1, 2
), test AS (
    SELECT f.k, f.cut, p.symbol,
           CAST(ROUND(p.close_pr, 2) AS DECIMAL(18,2)) AS y, pr.yhat
    FROM prices p
    JOIN folds f ON p.date > f.cut AND p.date <= f.cut_next
    LEFT JOIN pred pr ON pr.k = f.k AND pr.symbol = p.symbol
)
SELECT k AS fold, cut AS cutoff_date,
       CAST(COUNT(yhat) AS BIGINT)           AS n_test,
       CAST(COUNT(*) - COUNT(yhat) AS BIGINT) AS n_no_model,
       ROUND(CAST(SUM(ABS(y - CAST(ROUND(yhat, 2) AS DECIMAL(18,2))))
                  AS DOUBLE) / COUNT(yhat), 6) AS mae,
       ROUND(SQRT(CAST(SUM((y - CAST(ROUND(yhat, 2) AS DECIMAL(18,2)))
                           * (y - CAST(ROUND(yhat, 2) AS DECIMAL(18,2))))
                       AS DOUBLE) / COUNT(yhat)), 6) AS rmse
FROM test
GROUP BY 1, 2
""",
)
def q_walk_forward_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (rolling-origin) backtest harness — the time-series
    cross-validation every forecasting pipeline needs and a plain random
    split gets WRONG (temporal leakage): {WF_FOLDS} expanding folds, each
    training on all history up to its cutoff and testing on the next
    segment, scored here for the naive random-walk forecaster (last
    training close per symbol — the baseline every model must beat).

    Exactness: per-fold errors are differences of exact DECIMAL(18,2)
    closes (order-independent sums; squares stay exact at scale 4), cast
    to double once for the final MAE/RMSE algebra (fixed IEEE tree,
    rounded 6). Fold cutoffs are integer day arithmetic off the global
    min/max — engine-identical.

    100-TB shape: the fold table is {WF_FOLDS} broadcast rows; the
    train-side scan collapses to (symbol, fold) grain via max_by before
    joining (a |symbols|x{WF_FOLDS} broadcast model table); the test-side
    expansion is map-only (each row lands in <= 1 fold... exactly one
    for rows after the first cutoff). One scan feeds both sides."""
    pv = prices_view(spark, sf_dir)
    bounds = pv.agg(
        F.min("date").alias("lo"),
        F.max("date").alias("hi"),
        F.datediff(F.max("date"), F.min("date")).cast("long").alias("span"),
    )
    folds = (
        bounds.select(
            F.explode(F.sequence(F.lit(1), F.lit(WF_FOLDS))).alias("k"),
            "lo", "hi", "span",
        )
        .select(
            "k",
            F.date_add(
                "lo",
                F.floor(F.col("k") * F.col("span") / (WF_FOLDS + 1)).cast("int"),
            ).alias("cut"),
            F.when(F.col("k") == WF_FOLDS, F.col("hi"))
            .otherwise(
                F.date_add(
                    "lo",
                    F.floor(
                        (F.col("k") + 1) * F.col("span") / (WF_FOLDS + 1)
                    ).cast("int"),
                )
            )
            .alias("cut_next"),
        )
    )
    pred = (
        pv.join(F.broadcast(folds), F.col("date") <= F.col("cut"))
        .groupBy("k", "symbol")
        .agg(F.max_by("close_pr", "date").alias("yhat"))
    )
    test = (
        pv.join(
            F.broadcast(folds),
            (F.col("date") > F.col("cut")) & (F.col("date") <= F.col("cut_next")),
        )
        .select(
            "k", "cut", "symbol",
            F.round("close_pr", 2).cast("decimal(18,2)").alias("y"),
        )
        .join(F.broadcast(pred), ["k", "symbol"], "left")
    )
    err = F.col("y") - F.round(F.col("yhat"), 2).cast("decimal(18,2)")
    return (
        test.groupBy(F.col("k").alias("fold"), F.col("cut").alias("cutoff_date"))
        .agg(
            F.count("yhat").cast("long").alias("n_test"),
            (F.count("*") - F.count("yhat")).cast("long").alias("n_no_model"),
            F.round(
                F.sum(F.abs(err)).cast("double") / F.count("yhat"), 6
            ).alias("mae"),
            F.round(
                F.sqrt(F.sum(err * err).cast("double") / F.count("yhat")), 6
            ).alias("rmse"),
        )
    )


# --- Autocorrelation function (per-symbol, lags 1..K) ------------------------

ACF_MAX_LAG = 5
ACF_MIN_N = 20   # minimum aligned pairs per (symbol, lag)

_ACF_ARMS = "\nUNION ALL\n".join(
    f"SELECT symbol, {k} AS lag, close_pr AS x, l{k} AS y "
    f"FROM led WHERE l{k} IS NOT NULL"
    for k in range(1, ACF_MAX_LAG + 1)
)
_ACF_LEADS = ", ".join(
    f"LEAD(close_pr, {k}) OVER (PARTITION BY symbol ORDER BY date) AS l{k}"
    for k in range(1, ACF_MAX_LAG + 1)
)


@query(
    "acf_lags",
    oracle="WITH " + PRICES_ORACLE_CTE + f""",
led AS (
    SELECT symbol, close_pr, {_ACF_LEADS}
    FROM prices
), pairs AS (
    {_ACF_ARMS}
), mom AS (
    SELECT symbol, lag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(ROUND(x * y, 4) AS DECIMAL(32,4))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(ROUND(x * x, 4) AS DECIMAL(32,4))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(ROUND(y * y, 4) AS DECIMAL(32,4))) AS DOUBLE) AS syy
    FROM pairs GROUP BY 1, 2
)
SELECT symbol, lag, n,
       ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 8) AS acf
FROM mom
WHERE n >= {ACF_MIN_N}
  AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
)
def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the per-symbol close series at trading-
    day lags 1..{ACF_MAX_LAG} — the stationarity/seasonality readout a
    forecasting pipeline (``holt_linear_forecast``, ``ols_trend``)
    computes before choosing a model. Uses the aligned-pairs Pearson
    form (corr of x_t with x_(t+k)), the variant that is exactly a
    correlation per lag.

    Plan: ONE partitioned window pass emits all {ACF_MAX_LAG} leads
    (single shuffle on symbol, no self-join), a stack unpivots them to
    (symbol, lag, x, y) pairs, and the five Pearson moments accumulate
    per (symbol, lag) exactly as ``stats_correlation`` does: DECIMAL
    sums of 2-dec money (products rounded at their exact 4-dec scale),
    one cast to double, closed form in a fixed IEEE tree, ROUND 8
    (FMA-contraction guard).

    100-TB shape: lead computation is the same sort the per-symbol
    series already needs; moments are map-combinable on a
    (|symbols| x {ACF_MAX_LAG})-bounded key."""
    # r15: the five moments fold as EXACT INT64 CENT UNITS instead of
    # per-row decimal arithmetic (guide §1.2 step 2 / §2.3 narrower
    # types): close_pr converts to cents ONCE per base row (one decimal
    # round-trip, before the window, so the 20-lag pair explosion moves
    # and multiplies longs), the group sums are codegen long adds, and
    # each group does ONE decimal unscale at the end. Value-identical to
    # the decimal form it replaces: a 2dp x 2dp product has exactly 4
    # decimals, so round(x*y, 4) recovered cents_x*cents_y/1e4 exactly
    # (double error at <=1e10 magnitude is << 0.5e-4), sx's Σcents
    # <= ~6e9 < 2^53 makes cast-then-divide correctly rounded, and the
    # sxy/sxx/syy unscale goes through one exact DECIMAL(38,4)/1e4 per
    # group (Σ(cent products) <= ~1e18 fits int64 with headroom; ANSI
    # mode faults loudly on overflow rather than wrapping).
    p = prices_view(spark, sf_dir).select(
        "symbol",
        "date",
        (F.col("close_pr").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c_units"),
    )
    w = Window.partitionBy("symbol").orderBy("date")
    led = p.select(
        "symbol",
        "c_units",
        *[
            F.lead("c_units", k).over(w).alias(f"l{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack_expr = "stack({n}, {args}) as (lag, yc)".format(
        n=ACF_MAX_LAG,
        args=", ".join(
            f"{k}, l{k}" for k in range(1, ACF_MAX_LAG + 1)
        ),
    )
    pairs = led.select(
        "symbol", F.col("c_units").alias("xc"), F.expr(stack_expr)
    ).where(F.col("yc").isNotNull())

    def _unscale4(units_sum):
        # exact int64 1e-4 units -> the identical double the old
        # DECIMAL(32,4) sum produced: one decimal value per GROUP,
        # correctly rounded to double by BigDecimal semantics
        return (units_sum.cast("decimal(38,4)") / F.lit(10000)).cast("double")

    mom = pairs.groupBy("symbol", "lag").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("xc").cast("double") / 100.0).alias("sx"),
        (F.sum("yc").cast("double") / 100.0).alias("sy"),
        _unscale4(F.sum(F.col("xc") * F.col("yc"))).alias("sxy"),
        _unscale4(F.sum(F.col("xc") * F.col("xc"))).alias("sxx"),
        _unscale4(F.sum(F.col("yc") * F.col("yc"))).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        mom.filter((F.col("n") >= ACF_MIN_N) & (varx > 0) & (vary > 0))
        .select(
            "symbol",
            "lag",
            "n",
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.sqrt(varx) * F.sqrt(vary)),
                8,
            ).alias("acf"),
        )
    )


# --- Theil-Sen robust trend (median of pairwise slopes) -----------------------

TS_SLOPE_DP = 10   # pairwise slopes are rounded before the median pick so a
                   # <=1-ulp double-division difference cannot permute the
                   # sorted multiset around the median position
TS_WINDOW = 120    # trailing trading days in the trend window: bounds the
                   # quadratic pair work at 120*119/2 = 7,140 slopes per
                   # symbol — the "robust half-year trend" product shape
                   # (full-span pairwise at ~500 days = 125k HOF evals per
                   # symbol measured 600s+ at sf0.1; the window is the
                   # standard way Theil-Sen ships)


@query(
    "theil_sen_slope",
    oracle="WITH " + PRICES_ORACLE_CTE + f"""
, xy AS (
    SELECT symbol,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date) AS x,
           CAST(close_pr AS DECIMAL(18,2)) AS y
    FROM prices
    QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY date DESC)
            <= {TS_WINDOW}
), pr AS (
    SELECT a.symbol,
           ROUND(CAST(b.y - a.y AS DOUBLE) / (b.x - a.x), {TS_SLOPE_DP})
               AS sl
    FROM xy a JOIN xy b ON b.symbol = a.symbol AND b.x > a.x
), r AS (
    SELECT symbol, sl,
           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY sl) AS rn,
           COUNT(*) OVER (PARTITION BY symbol) AS np
    FROM pr
)
SELECT symbol,
       CAST((1 + CAST(SQRT(8.0 * np + 1) AS BIGINT)) // 2 AS BIGINT)
           AS n_days,
       CAST(np AS BIGINT) AS n_pairs,
       sl AS ts_slope
FROM r WHERE rn = (np + 1) // 2
""",
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per symbol over the trailing {TS_WINDOW}
    trading days: the MEDIAN of all pairwise slopes
    (y_j - y_i)/(x_j - x_i) over the trading-day index — the
    29%-breakdown-point sibling of ``ols_trend`` (one outlier close
    cannot move it), same x convention (row_number over date) so the
    two slopes are directly comparable. Median = the type-1 lower
    median (position ceil(np/2) of the sorted slope multiset) — an
    exact ORDER STATISTIC, no averaging of two middles, so the readout
    is one of the rounded slope values verbatim. n_days is recovered
    from the pair count via the triangular-number inverse (documents
    that pairs, not rows, are the work unit).

    Exactness: close_pr is exact DECIMAL(18,2); each slope is ONE
    correctly-rounded double division of exact quantities, rounded to
    {TS_SLOPE_DP}dp before ranking (WKEY_DP contract); selecting the
    k-th element of a sorted MULTISET is tie-order independent.

    Plan & 100-TB shape: pairs-per-symbol is WINDOW-bounded —
    {TS_WINDOW} trailing days -> 7,140 pairs per symbol, a CONSTANT —
    so the quadratic work stays INSIDE each symbol's row:
    one groupBy collects the sorted series (bounded array), and the
    pair slopes, the sort, and the median pick are array HOFs — the
    pair table NEVER hits an exchange (a pair self-join at 25k symbols
    would shuffle 3.5e9 rows and OOM the window sort; measured before
    this rewrite). Corpus growth adds symbols = more independent rows;
    total work is linear in symbols. The oracle states the self-join
    form this replaces. The estimator everyone downgrades to sampling
    is exact here because the per-group pair count is bounded by
    design."""
    arr = (
        prices_view(spark, sf_dir)
        .select("symbol", "date", F.col("close_pr").cast("decimal(18,2)").alias("y"))
        .groupBy("symbol")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("date", "y"))
            ).alias("pts")
        )
        .select(
            "symbol",
            F.transform(F.col("pts"), lambda p: p["y"]).alias("ys_full"),
        )
        .select(
            "symbol",
            F.slice(
                F.col("ys_full"),
                F.greatest(
                    F.size("ys_full") - (TS_WINDOW - 1), F.lit(1)
                ),
                F.lit(TS_WINDOW),
            ).alias("ys"),
        )
        .where(F.size("ys") >= 2)
    )
    ys = F.col("ys")
    n = F.size(ys)
    slopes = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.round(
                    (F.element_at(ys, j) - F.element_at(ys, i)).cast("double")
                    / (j - i).cast("double"),
                    TS_SLOPE_DP,
                ),
            ),
        )
    )
    sl = F.array_sort(slopes)
    np_ = F.size(sl)
    return arr.select(
        "symbol",
        n.cast("long").alias("n_days"),
        np_.cast("long").alias("n_pairs"),
        F.element_at(sl, F.floor((np_ + 1) / 2).cast("int")).alias(
            "ts_slope"
        ),
    )


# --- weekly OHLCV resample -----------------------------------------------------


@query(
    "ohlc_resample_weekly",
    oracle="WITH " + PRICES_ORACLE_CTE + """
SELECT symbol,
       CAST(date_trunc('week', date) AS DATE) AS week_start,
       arg_min(open_pr, date)  AS w_open,
       MAX(high_pr)            AS w_high,
       MIN(low_pr)             AS w_low,
       arg_max(close_pr, date) AS w_close,
       CAST(SUM(daily_trade_stock) AS BIGINT) AS w_volume,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM prices GROUP BY 1, 2
""",
)
def q_ohlc_resample_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLCV bars from the daily price view — the canonical
    time-series DOWNSAMPLE (pandas ``resample('W').ohlc()``, reference
    daily_function.py's daily bars rolled up a level): open = first
    trading day's open, close = last day's close (both via argmin/argmax
    on date — an ORDER-FREE aggregate, unlike first()/last() which
    depend on row order), high/low = extrema, volume = sum.

    Determinism: min_by/max_by pick EXISTING values keyed by a unique
    date (one row per (symbol, date) by construction) — no arithmetic,
    no order dependence; the volume sum is int64. date_trunc('week') is
    ISO-Monday in both engines.

    100-TB: one map-combinable agg on (symbol, week) — min_by/max_by
    combine partial states like min/max do, so the rollup is one
    shuffle of 1-row-per-bar partials. The downsample every charting /
    backtest layer runs before humans look at anything."""
    p = prices_view(spark, sf_dir)
    return p.groupBy(
        "symbol",
        F.date_trunc("week", F.col("date")).cast("date").alias("week_start"),
    ).agg(
        F.min_by("open_pr", "date").alias("w_open"),
        F.max("high_pr").alias("w_high"),
        F.min("low_pr").alias("w_low"),
        F.max_by("close_pr", "date").alias("w_close"),
        F.sum("daily_trade_stock").cast("long").alias("w_volume"),
        F.count("*").cast("long").alias("n_days"),
    )


# --- annualized Sharpe / Sortino from daily returns ----------------------------

SR_R_DP = 8       # per-day simple-return rounding (one double division)
SR_ANN = 252      # trading days per year (annualization constant)


@query(
    "sharpe_sortino_daily",
    oracle="WITH " + PRICES_ORACLE_CTE + f"""
, r AS (
    SELECT symbol,
           ROUND(close_pr / LAG(close_pr) OVER
                 (PARTITION BY symbol ORDER BY date) - 1.0, {SR_R_DP}) AS r
    FROM prices
), s AS (
    SELECT symbol,
           CAST(COUNT(r) AS BIGINT) AS n,
           SUM(CAST(r AS DECIMAL(18,{SR_R_DP}))) AS sr,
           SUM(CAST(r AS DECIMAL(19,{SR_R_DP}))
               * CAST(r AS DECIMAL(19,{SR_R_DP}))) AS sr2,
           SUM(CASE WHEN r < 0 THEN CAST(r AS DECIMAL(19,{SR_R_DP}))
                    * CAST(r AS DECIMAL(19,{SR_R_DP})) END) AS sd2,
           CAST(SUM(CAST(r < 0 AS INTEGER)) AS BIGINT) AS nd
    FROM r WHERE r IS NOT NULL GROUP BY 1
)
SELECT symbol, n,
       ROUND(CAST(sr AS DOUBLE) / n, 8) AS mean_r,
       ROUND(SQRT((CAST(sr2 AS DOUBLE)
                   - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
                  / (n - 1)), 8) AS std_r,
       ROUND(CAST(sr AS DOUBLE) / n
             / SQRT((CAST(sr2 AS DOUBLE)
                     - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n)
                    / (n - 1))
             * SQRT({SR_ANN}.0), 6) AS sharpe_ann,
       ROUND(CAST(sr AS DOUBLE) / n
             / SQRT(CAST(sd2 AS DOUBLE) / n)
             * SQRT({SR_ANN}.0), 6) AS sortino_ann
FROM s WHERE n >= 2 AND nd >= 1
""",
)
def q_sharpe_sortino_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios per symbol from daily
    simple returns — the risk-adjusted readout a strategy report pairs
    with ``max_drawdown`` and ``ols_trend``: sharpe = mean/std*sqrt(252)
    (sample std), sortino divides by DOWNSIDE root-mean-square instead
    (target 0, population form), punishing only losing days.

    Determinism: each day's return is ONE correctly-rounded double
    division rounded at {SR_R_DP}dp; all moments are exact DECIMAL sums
    of those rounded returns (and their exact decimal squares) —
    combine-order free — and the ratios are fixed IEEE readout trees.

    100-TB: one symbol-partitioned lag window (co-partitioned with the
    price view), then a map-combinable per-symbol agg of four
    sufficient statistics. Symbols without a losing day or with < 2
    returns are excluded (stated; sortino undefined)."""
    w = Window.partitionBy("symbol").orderBy("date")
    dec = f"decimal(18,{SR_R_DP})"
    r = prices_view(spark, sf_dir).select(
        "symbol",
        F.round(
            F.col("close_pr") / F.lag("close_pr").over(w) - 1.0, SR_R_DP
        )
        .cast(dec)
        .alias("r"),
    ).where(F.col("r").isNotNull())
    s = r.groupBy("symbol").agg(
        F.count("r").cast("long").alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("sr2"),
        F.sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r"))
        ).alias("sd2"),
        F.sum((F.col("r") < 0).cast("int")).cast("long").alias("nd"),
    )
    n = F.col("n")
    sr = F.col("sr").cast("double")
    sr2 = F.col("sr2").cast("double")
    mean = sr / n
    var = (sr2 - sr * sr / n) / (n - 1)
    dstd = F.sqrt(F.col("sd2").cast("double") / n)
    return s.where((n >= 2) & (F.col("nd") >= 1)).select(
        "symbol",
        "n",
        F.round(mean, 8).alias("mean_r"),
        F.round(F.sqrt(var), 8).alias("std_r"),
        F.round(mean / F.sqrt(var) * F.sqrt(F.lit(float(SR_ANN))), 6).alias(
            "sharpe_ann"
        ),
        F.round(mean / dstd * F.sqrt(F.lit(float(SR_ANN))), 6).alias(
            "sortino_ann"
        ),
    )
