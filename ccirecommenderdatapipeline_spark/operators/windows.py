"""Window / analytic operators (SURVEY.md section 2.6, W1-W8).

The reference computes the Commodity Channel Index with pandas rolling windows
per symbol (/root/reference/daily_function.py:584-595):

    TP  = (high + low + close) / 3
    SMA = TP.rolling(n).mean()
    MAD = TP.rolling(n).apply(lambda x: mean(abs(x - mean(x))))   # no Spark builtin
    CCI = (TP - SMA) / (0.015 * MAD)

Spark-first design:
- W1 (SMA) is a plain ``F.avg`` over a rows-between frame — whole-stage codegen.
- W2 (MAD) has no builtin: it is ``collect_list`` over the same frame +
  the ``F.aggregate`` higher-order function. This stays entirely in
  Catalyst expressions (no Python boundary) and the list is bounded at n=20
  elements, so memory per row is constant. The references are the DuckDB
  oracle and a pandas ``rolling`` reimplementation (tests/test_cci.py).
- pandas ``rolling(n)`` emits NaN for the first n-1 rows; we emit NULL when the
  frame holds fewer than n rows (same semantics, SURVEY section 4.2).
- Scale: one shuffle on ``symbol`` serves every window here; with the prices
  table bucketed by symbol the exchange disappears entirely. No per-symbol
  loop, no ProcessPoolExecutor (reference daily_function.py:974-975) — the
  partitionBy IS the parallelism.

Numeric determinism contract (sources/prices.py docstring): every rolling
statistic here is computed as an explicit sequential fold over the window's
``collect_list`` — Spark's ``F.aggregate`` HOF and DuckDB's ``list_sum`` both
add doubles left-to-right over the same date-ordered list, so results are
bit-identical across engines (verified: 0 mismatches over 51k windows) and no
rounding is needed anywhere. A built-in ``F.avg().over(w)`` would use an
incremental/tree accumulator whose association order differs per engine;
with n=20 the O(n)-per-row fold costs the same and buys exactness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from ..schemas import CCI_NDAYS


def symbol_date_window() -> WindowSpec:
    return Window.partitionBy("symbol").orderBy("date")


def rolling_window(n: int) -> WindowSpec:
    return symbol_date_window().rowsBetween(-(n - 1), 0)


def _fold_sum(xs: Column) -> Column:
    """Sequential left-fold sum — bit-identical to DuckDB's ``list_sum``."""
    return F.aggregate(xs, F.lit(0.0), lambda acc, x: acc + x)


def rolling_mad(col: str, n: int) -> Column:
    """W2: rolling mean absolute deviation via collect_list + aggregate HOF.

    ``aggregate(xs, 0.0, (acc, x) -> acc + abs(x - mean)) / n`` — a pure
    Catalyst expression; no UDF, no Python boundary, list bounded at n
    elements. The inner mean is the same sequential fold as W1, exactly the
    reference's ``np.mean(np.abs(x - np.mean(x)))``
    (daily_function.py:590-591).

    PERF NOTE (r9): this self-contained single-Column form inlines the
    mean fold into the per-element lambda, so the interpreted HOF
    re-runs it per element — n^2 fold steps per row. Fine for ad-hoc
    use; in a pipeline, stage the list and the mean as projection
    columns first and reference them (see ``with_cci`` below, which no
    longer calls this helper for exactly that reason).
    """
    w = rolling_window(n)
    xs = F.collect_list(col).over(w)
    mean = _fold_sum(xs) / n
    return F.when(
        F.count(col).over(w) >= n,
        F.aggregate(xs, F.lit(0.0), lambda acc, x: acc + F.abs(x - mean)) / n,
    )


def with_cci(prices: DataFrame, n: int = CCI_NDAYS) -> DataFrame:
    """W1+W2+W3: full CCI derivation (daily_function.py:577-595).

    Output adds close_TP/open_TP/close_sma/open_sma/close_mad/open_mad/
    close_cci/open_cci to the price schema (CCI_SCHEMA).

    Eval-once staging (r9 bench-tail audit, same fix as
    bollinger_bands): the window lists and the SMA folds are
    materialized as projection columns BEFORE the MAD fold references
    them. ``rolling_mad``'s self-contained form inlines the n-element
    mean fold into the per-element lambda, so the interpreted HOF
    re-runs it per element (n^2 = 400 fold steps/row, twice); staging
    drops that to 2n per row. The MAD's inner mean IS the SMA column
    (same fold, same gate: for partial windows the SMA is null and the
    count gate nulls the MAD anyway), and fold order is unchanged, so
    results stay bit-identical to the DuckDB oracle and the pandas
    parity tests."""
    df = prices.withColumns({
        "close_TP": (F.col("high_pr") + F.col("low_pr") + F.col("close_pr")) / 3,
        "open_TP": (F.col("high_pr") + F.col("low_pr") + F.col("open_pr")) / 3,
    })
    w = rolling_window(n)
    df = df.withColumns({
        "_close_xs": F.collect_list("close_TP").over(w),
        "_open_xs": F.collect_list("open_TP").over(w),
        "_close_cnt": F.count("close_TP").over(w),
        "_open_cnt": F.count("open_TP").over(w),
    })
    df = df.withColumns({
        "close_sma": F.when(
            F.col("_close_cnt") >= n, _fold_sum(F.col("_close_xs")) / n
        ),
        "open_sma": F.when(
            F.col("_open_cnt") >= n, _fold_sum(F.col("_open_xs")) / n
        ),
    })

    def mad(xs: str, cnt: str, sma: str) -> Column:
        return F.when(
            F.col(cnt) >= n,
            F.aggregate(
                F.col(xs),
                F.lit(0.0),
                lambda acc, x: acc + F.abs(x - F.col(sma)),
            )
            / n,
        )

    df = df.withColumns({
        "close_mad": mad("_close_xs", "_close_cnt", "close_sma"),
        "open_mad": mad("_open_xs", "_open_cnt", "open_sma"),
    }).drop("_close_xs", "_open_xs", "_close_cnt", "_open_cnt")
    def cci(tp_c: str, sma_c: str, mad_c: str) -> Column:
        # guard mad == 0 explicitly: pandas yields inf; we define null (both
        # engines), impossible on real price data.
        return F.when(
            F.col(mad_c) != 0,
            (F.col(tp_c) - F.col(sma_c)) / (0.015 * F.col(mad_c)),
        )
    return df.withColumns({
        "close_cci": cci("close_TP", "close_sma", "close_mad"),
        "open_cci": cci("open_TP", "open_sma", "open_mad"),
    })


def with_buy_signal(cci: DataFrame, threshold: float, strict: bool = True,
                    cci_col: str = "open_cci") -> DataFrame:
    """W4: lag-based crossover detection.

    The simulator uses strict ``prev < thr AND cur > thr``
    (daily_function.py:724-725); the recommendation scan uses ``>=`` on the
    current side (daily_function.py:1215-1217, 1451-1453). Both are preserved
    via ``strict``; they are genuinely different operators.
    """
    w = symbol_date_window()
    prev = F.lag(cci_col, 1).over(w)
    cur = F.col(cci_col)
    fired = (prev < threshold) & ((cur > threshold) if strict else (cur >= threshold))
    return cci.withColumn("buy_signal", F.coalesce(fired, F.lit(False)))


def latest_rows(df: DataFrame, k: int = 1) -> DataFrame:
    """W5: positional indexing iloc[-1]/iloc[-2] (daily_function.py:1211-1216)
    as a descending row_number — `rn=1` is the last row, `rn=2` second-to-last.
    """
    w = Window.partitionBy("symbol").orderBy(F.desc("date"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


# --- bounded unpartitioned windows (VERDICT r7 item 5) -----------------------

#: Query names whose physical plans legitimately contain an unpartitioned
#: Window — every one ranks/scans an AGGREGATE of bounded cardinality
#: (brand vocabulary <= |V|, calendar span, strategy-grid constants, BPE
#: pair vocabulary), never a corpus-sized relation. tools/audit_plans.py
#: flags any query with an unpartitioned Window NOT listed here, so an
#: accidental global window on row-grain data fails the audit instead of
#: hiding among the documented-bounded ones. Populated empirically per
#: call site below; the value is the bound argument (why it is safe).
_TPR_OFFSETS_BOUND = (
    "two_phase_rank offsets window with no partition cols: input is the "
    "per-bucket counts table, <= 256 rows (plans/training.py)"
)

BOUNDED_WINDOW_QUERIES: dict[str, str] = {
    # two_phase_rank(part_cols=()) callers: the shared helper cannot know
    # its composing query's name at call time, so the empty-part_cols
    # consumers are registered here statically (audit-verified list).
    "training_order_shuffle": _TPR_OFFSETS_BOUND,
    "training_pipeline": _TPR_OFFSETS_BOUND,
    "conformal_calibration": _TPR_OFFSETS_BOUND,
    "rfm_segmentation": _TPR_OFFSETS_BOUND,
    "quantile_normalize_sources": _TPR_OFFSETS_BOUND,
    "feature_binning": _TPR_OFFSETS_BOUND,
}


def bounded_window(
    *order_cols, bound: str, queries: tuple[str, ...] = ()
) -> WindowSpec:
    """A whole-relation ordered window whose input is PROVEN bounded.

    An unpartitioned window serializes its input into one task — a
    scale-killer on row-grain data, but the right (and cheap) plan over a
    small aggregate: ranking the brand vocabulary, cumulating a calendar
    span, taking the top-K BPE pairs. This helper is the only sanctioned
    way to build one, and it does two things an inline ``Window.orderBy``
    would not:

    1. ``bound`` (required) documents why the input cardinality is
       bounded at the call site;
    2. ``queries`` records the registered queries whose plans carry this
       window in :data:`BOUNDED_WINDOW_QUERIES` — tools/audit_plans.py
       flags any query with an unpartitioned Window NOT in that registry,
       so an audit flag now means exactly one thing: an ACCIDENTAL global
       window on row-grain data (VERDICT r7 item 5).

    (Partitioning on a constant to silence WindowExec's warning does not
    work: Catalyst eliminates foldable partition keys, so the executed
    plan is unpartitioned either way — hence the explicit registry.)"""
    for q in queries:
        BOUNDED_WINDOW_QUERIES.setdefault(q, bound)
    return Window.orderBy(*order_cols)


def bounded_global_window(*, bound: str, queries: tuple[str, ...] = ()):
    """The unordered sibling of :func:`bounded_window`: a whole-relation
    aggregate window (``Window.partitionBy()`` with no keys) over an
    input PROVEN bounded — e.g. summing a 10-row decile table into every
    row. Same contract: ``bound`` documents why the cardinality is safe,
    ``queries`` registers the carriers so tools/audit_plans.py can keep
    the invariant that an unregistered unpartitioned window is always an
    ACCIDENT. Added so no plan ever builds a raw ``Window.partitionBy()``
    inline and rides on another window's registration (VERDICT r10
    item 5: decile_lift_table passed the audit only because its wcum
    window registered it)."""
    for q in queries:
        BOUNDED_WINDOW_QUERIES.setdefault(q, bound)
    return Window.partitionBy()
