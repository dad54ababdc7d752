"""The trade simulator — SURVEY.md W6 (forward-window first-match) x J6
(strategy-grid cross join) x A1/A2 (strategy aggregation), the reference's
hard core (daily_function.py:717-816, aggregated at :1047-1071).

Reference semantics preserved exactly:
- buy signal: strict crossover ``prev open_cci < thr AND open_cci > thr``
  (daily_function.py:724-725); buy at that row's open price/date (:735-737).
- forward window: the next ``x`` rows by position, not days (:739).
- target hit: first future row with ``close_pr >= buy_price*(1+r/100)``;
  stop hit: first future row with ``close_cci <= stop_thr`` (:745-751).
- precedence (:754): target wins only if strictly earlier than stop; equal
  index -> stop_loss. No hit -> maturity at the min(x, len(future))-th row.
- ``days_held``: calendar days for target/stop; the CONSTANT ``x`` for
  maturity even when the series ends early (:796) — preserved as-is.
- a buy on the last row (empty forward window) produces no trade (:741-742).

One kernel (SURVEY §4.2 Plan B): a per-symbol ``applyInPandas``. A
symbol's whole history is one Arrow batch, and ``_build_outcomes`` resolves
the whole (holding x return x stop x buy event) grid in vectorized numpy —
crossover, first target/stop hits in the next x_max rows, precedence and
the sell row. Two entry points read that one routine:
- ``simulate_trades`` emits one row per (buy event x combo);
- ``simulate_aggregate`` folds the outcomes to per (symbol x combo)
  aggregates inside the batch, so the shuffle moves a symbol's ~6k price
  rows and its aggregate rows, never the trade rows (467M at sf0.1 on the
  full 4,860-combo grid).
The DuckDB oracle (plans/simulator.py ``_sim_cte``) re-expresses the same
semantics independently with list lambdas.

At 100 TB: grouped-map state is one symbol's history — bounded; skew is
capped by max history length, and the Python stage scales with executors
like any map stage. The kernel reads the symbol-partitioned cci cache
(plans/cci.py ``cci_view``) without a shuffle (and a table bucketed by
symbol likewise), so its Python task count is that cache's partition
count, which AQE sizes by the cache's bytes (``session.get_spark``): one
task for a small snapshot, one per core at sf0.1.

cloudpickle rule: every helper the grouped-map closures touch is nested or
closure-built. An importable module-level function pickles BY REFERENCE,
which would make every Python worker import this package — and workers
launched from another working directory (as ``__spark_entry__.py``
callers do) cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from ..schemas import (
    GRID_BUY_THRESHOLD,
    GRID_HOLDING_DAYS,
    GRID_STOP_THRESHOLD,
    GRID_TARGET_RETURN,
)


DEFAULT_GRID = {
    "holding_days": GRID_HOLDING_DAYS,
    "target_return": GRID_TARGET_RETURN,
    "buy_threshold": GRID_BUY_THRESHOLD,
    "stop_threshold": GRID_STOP_THRESHOLD,
}

_INPUT_COLS = ("symbol", "date", "open_pr", "close_pr", "open_cci", "close_cci")

AGG_SCHEMA = (
    "symbol STRING, condition_holding_days INT, condition_target_return INT, "
    "condition_buy_cci_threshold DOUBLE, condition_stop_loss_cci_threshold DOUBLE, "
    "count_buy_date BIGINT, count_reach_target_date BIGINT, "
    "count_stop_loss_date BIGINT, count_maturity_date BIGINT, "
    "count_win BIGINT, count_lose BIGINT, "
    "sum_revenue_per_days_held DOUBLE, sum_days_held BIGINT, count_trades BIGINT, "
    "total_buy_price DOUBLE, total_sell_price DOUBLE, "
    "avg_revenue_per_days_held DOUBLE, avg_days_held DOUBLE, "
    "win_rate DOUBLE, lose_rate DOUBLE, total_revenue DOUBLE, revenue_rate DOUBLE, "
    "reach_target_date_count_per_buy_date_count DOUBLE, "
    "stop_loss_date_count_per_buy_date_count DOUBLE, "
    "maturity_date_count_per_buy_date_count DOUBLE"
)

# years-mode output: search_years keys the aggregates alongside symbol
AGG_SCHEMA_YEARS = AGG_SCHEMA.replace(
    "symbol STRING, ", "symbol STRING, search_years STRING, ", 1
)

# The trade kernel's Arrow payload: only the sell side, dates as epoch
# days and the outcome as a code (0 target, 1 stop, 2 maturity). The
# per-outcome date/price columns, two of every three NULL, are derived in
# Spark from the code, which keeps them out of the Python->JVM transfer.
_TRADE_ROW_SCHEMA = (
    "symbol STRING, buy_day INT, buy_price DOUBLE, "
    "condition_holding_days INT, condition_target_return INT, "
    "condition_buy_cci_threshold DOUBLE, condition_stop_loss_cci_threshold DOUBLE, "
    "sell_day INT, sell_price DOUBLE, days_held INT, outcome INT"
)


def _schema_cols(schema: str) -> list[str]:
    return [f.strip().split(" ")[0] for f in schema.split(",")]


def _build_unscale_exact():
    """Factory so ``_unscale_exact``'s qualname is NOT importable (the
    cloudpickle rule in the module docstring): a closure-built function
    pickles BY VALUE, shipping the code with the kernel."""

    def _unscale_exact(units, scale: int):
        """Correctly-rounded ``units / scale`` for exact int64 decimal
        units.

        ``float64(units) / scale`` rounds once (i.e. is correctly
        rounded) only while ``|units| < 2**53`` — beyond that the
        int64→double conversion itself rounds, and the quotient
        double-rounds (ADVICE r7). Per-symbol unit totals can reach
        ~1e17 at the stated per-trade bounds, only ~1.5x under 2**53, so
        the fast path is guarded: any element at or past 2**53 is
        recomputed through ``Fraction`` (exact rational → one correctly
        rounded conversion). Keeps the totals bit-identical to the
        oracle's exact decimal SUM at ANY magnitude, not just under
        2**53."""
        arr = np.asarray(units, dtype=np.int64)
        out = arr.astype(np.float64) / scale
        big = np.abs(arr) >= 2**53
        if big.any():
            from fractions import Fraction

            flat, oflat = arr.ravel(), out.ravel()
            for i in np.flatnonzero(big.ravel()):
                oflat[i] = float(Fraction(int(flat[i]), scale))
            out = oflat.reshape(arr.shape)
        return float(out) if np.isscalar(units) or arr.shape == () else out

    return _unscale_exact


_unscale_exact = _build_unscale_exact()


def _build_outcomes(grid: dict):
    """Factory for the per-symbol outcome routine both kernels share
    (closure-built, the cloudpickle rule).

    ``outcomes(pdf)`` takes one symbol's ``_INPUT_COLS`` rows and returns
    ``(symbol, day, open_pr, close_pr, per_b)``: ``day`` is the date-sorted
    epoch days, and ``per_b`` holds one ``(b, buy_idx, is_t, is_s,
    sell_idx, held)`` per buy threshold that trades at all — the buy row
    positions (k,) and, over the (H, R, S, k) grid of (holding, return,
    stop, buy), the target/stop outcome masks (neither = maturity), the
    sell row's position and days_held."""
    holding = [int(x) for x in grid["holding_days"]]
    returns = np.array([int(r) for r in grid["target_return"]])
    buy_thr = [float(b) for b in grid["buy_threshold"]]
    stop_thr = [float(s) for s in grid["stop_threshold"]]
    x_max = max(holding)
    x_arr = np.array(holding)[:, None, None, None]           # (H,1,1,1)

    def first_hits(vals, buy_idx, cmp_ge, thresholds):
        """Per buy index i and threshold t: 1-based position of the first j
        in (i, i+x_max] with vals[j] >= t (or <= t), 0 if none."""
        n = len(vals)
        padded = np.full(n + x_max, np.nan)
        padded[:n] = vals
        win = np.lib.stride_tricks.sliding_window_view(padded, x_max)[buy_idx + 1]
        out = np.zeros((len(buy_idx), len(thresholds)), dtype=np.int64)
        for k, t in enumerate(thresholds):
            m = (win >= t[:, None]) if cmp_ge else (win <= t)
            first = m.argmax(axis=1)
            out[:, k] = np.where(m.any(axis=1), first + 1, 0)
        return out

    def outcomes(pdf: pd.DataFrame):
        day = (
            pd.to_datetime(pdf["date"]).to_numpy().astype("datetime64[D]").astype("int64")
        )
        order = np.argsort(day)
        day = day[order]
        open_cci, close_cci, open_pr, close_pr = (
            pdf[c].to_numpy(dtype=float)[order]
            for c in ("open_cci", "close_cci", "open_pr", "close_pr")
        )
        n = len(pdf)
        prev = np.concatenate(([np.nan], open_cci[:-1]))

        per_b = []
        for b in buy_thr:
            with np.errstate(invalid="ignore"):
                sig = (prev < b) & (open_cci > b)
            buy_idx = np.flatnonzero(sig)
            buy_idx = buy_idx[buy_idx + 1 < n]  # empty forward window -> no trade
            if len(buy_idx) == 0:
                continue
            flen = np.minimum(n - 1 - buy_idx, x_max)
            targets = open_pr[buy_idx][None, :] * (1 + returns[:, None] / 100.0)
            t_first = first_hits(close_pr, buy_idx, True, targets)
            s_first = first_hits(close_cci, buy_idx, False, stop_thr)

            # broadcast the whole (H,R,S,k) grid at once
            t0 = t_first.T[None, :, None, :]                 # (1,R,1,k)
            s0 = s_first.T[None, None, :, :]                 # (1,1,S,k)
            t_hit = np.where((t0 > 0) & (t0 <= x_arr), t0, 0)
            s_hit = np.where((s0 > 0) & (s0 <= x_arr), s0, 0)
            is_t = (t_hit > 0) & ((s_hit == 0) | (t_hit < s_hit))
            is_s = ~is_t & (s_hit > 0)
            m_pos = np.minimum(x_arr, flen[None, None, None, :])
            sell_pos = np.where(is_t, t_hit, np.where(is_s, s_hit, m_pos))
            sell_idx = buy_idx[None, None, None, :] + sell_pos
            held = np.where(is_t | is_s, day[sell_idx] - day[buy_idx], x_arr)
            per_b.append((b, buy_idx, is_t, is_s, sell_idx, held))
        return pdf["symbol"].iloc[0], day, open_pr, close_pr, per_b

    return outcomes


def simulate_trades(cci: DataFrame, grid: dict) -> DataFrame:
    """cci (symbol, date, open_pr, close_pr, open_cci, close_cci, ...) ->
    one TRADE_SCHEMA row per (buy event x grid combo)."""
    outcomes = _build_outcomes(grid)
    # condition values laid out along the (H,R,S,k) grid axes
    cond_x = np.array(grid["holding_days"], dtype=np.int64).reshape(-1, 1, 1, 1)
    cond_r = np.array(grid["target_return"], dtype=np.int64).reshape(1, -1, 1, 1)
    cond_s = np.array(grid["stop_threshold"], dtype=float).reshape(1, 1, -1, 1)
    cols = _schema_cols(_TRADE_ROW_SCHEMA)

    def trade_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        symbol, day, open_pr, close_pr, per_b = outcomes(pdf)
        # one flat array per column over every buy threshold's grid, and
        # one DataFrame per symbol: a frame per threshold plus pd.concat
        # cost a quarter of the kernel's time on sf0.1 trades_sim
        parts: dict[str, list] = {c: [] for c in cols[1:]}
        for b, buy_idx, is_t, is_s, sell_idx, held in per_b:
            values = {
                "buy_day": day[buy_idx],
                "buy_price": open_pr[buy_idx],
                "condition_holding_days": cond_x,
                "condition_target_return": cond_r,
                "condition_buy_cci_threshold": b,
                "condition_stop_loss_cci_threshold": cond_s,
                "sell_day": day[sell_idx],
                "sell_price": close_pr[sell_idx],
                "days_held": held,
                "outcome": np.where(is_t, 0, np.where(is_s, 1, 2)),
            }
            for c, v in values.items():
                parts[c].append(np.broadcast_to(v, is_t.shape).ravel())
        out = pd.DataFrame({c: np.concatenate(v) if v else [] for c, v in parts.items()})
        out.insert(0, "symbol", symbol)
        return out

    rows = cci.select(*_INPUT_COLS).groupBy("symbol").applyInPandas(
        trade_rows, _TRADE_ROW_SCHEMA
    )
    code = F.col("outcome")
    sell_date = F.date_from_unix_date("sell_day")

    def on(c: int, col):
        return F.when(code == c, col)

    return rows.select(
        "symbol",
        F.date_from_unix_date("buy_day").alias("buy_date"),
        "buy_price",
        "condition_holding_days", "condition_target_return",
        "condition_buy_cci_threshold", "condition_stop_loss_cci_threshold",
        on(0, sell_date).alias("reach_target_date"),
        on(0, F.col("sell_price")).alias("reach_target_price"),
        on(1, sell_date).alias("stop_loss_date"),
        on(1, F.col("sell_price")).alias("stop_loss_price"),
        on(2, sell_date).alias("maturity_date"),
        on(2, F.col("sell_price")).alias("maturity_price"),
        sell_date.alias("sell_date"),
        "sell_price",
        "days_held",
        F.when(code == 0, "reach_target")
        .when(code == 1, "stop_loss")
        .otherwise("maturity")
        .alias("trade_result"),
    )


def simulate_aggregate(
    cci: DataFrame, grid: dict | None = None, years: list | None = None
) -> DataFrame:
    """cci -> per (symbol x full combo) strategy aggregates (A1/A2,
    daily_function.py:1047-1071), one Arrow round-trip per symbol.

    ``years`` (the reference's search-history depths, daily_function.py:
    670-682) adds the (symbol, search_years) grain with no extra pass. A
    depth y keeps the rows ``date >= max(date) - y years``
    (pd.DateOffset == add_months month-clamp semantics), and a sliced lag
    restarts, so the slice's first row can never buy; every later slice row
    sees the same previous row as the full history, and the forward window
    only looks toward max(date), inside the slice. So a depth's trades are
    exactly the full history's trades whose buy day is strictly after the
    slice's first day, and each depth is a masked re-sum of the per-buy
    outcome grid computed once per symbol.

    Determinism: rates are exact per-row divisions of integer aggregates
    instead of pandas ``round(x, 2)``; money/ratio totals fold exact scaled
    int64 units (order-independent), bit-identical to the oracle's decimal
    SUM."""
    grid = grid or DEFAULT_GRID
    outcomes = _build_outcomes(grid)
    depths = (
        None
        if years is None
        else [(str(y), None if y == "all" else int(y)) for y in years]
    )
    schema = AGG_SCHEMA if depths is None else AGG_SCHEMA_YEARS
    holding = [int(x) for x in grid["holding_days"]]
    returns = [int(r) for r in grid["target_return"]]
    stop_thr = [float(s) for s in grid["stop_threshold"]]

    H, R, S = len(holding), len(returns), len(stop_thr)
    n_combos = H * R * S
    combo_idx = np.arange(n_combos)
    # condition columns in (x, r, s) nested order, repeated per buy threshold
    cond_x = np.repeat(holding, R * S)
    cond_r = np.tile(np.repeat(returns, S), H)
    cond_s = np.tile(stop_thr, H * R)
    cols = _schema_cols(schema)

    def per_symbol(pdf: pd.DataFrame) -> pd.DataFrame:
        symbol, day, open_pr, close_pr, per_b = outcomes(pdf)
        n = len(day)

        # Per-depth slice boundary: first in-slice day (epoch days). A buy
        # survives depth y iff buy day > first-slice day. None = keep all.
        if depths is None:
            depth_bounds: list[tuple] = [(None, None)]
        else:
            max_ts = pd.Timestamp(np.datetime64(int(day[-1]), "D"))
            depth_bounds = []
            for label, ny in depths:
                if ny is None:
                    depth_bounds.append((label, None))
                else:
                    bday = int(
                        (max_ts - pd.DateOffset(months=12 * ny))
                        .to_datetime64()
                        .astype("datetime64[D]")
                        .astype("int64")
                    )
                    depth_bounds.append((label, int(day[day >= bday].min())))

        frames: list[pd.DataFrame] = []
        for b, buy_idx, is_t, is_s, sell_idx, days in per_b:
            k = len(buy_idx)
            bp = open_pr[buy_idx]
            sell_price = close_pr[sell_idx]
            is_m = ~is_t & ~is_s
            # Scale the per-trade money/ratio grids to exact int64 ONCE per
            # buy threshold (outside the depth loop): buy=4-dec, sell=2-dec —
            # the np.round only strips <<1 ulp of double representation
            # error, so these are the exact decimal integers.
            bp_units = np.round(bp * 1e4).astype(np.int64)
            sp_units = np.round(sell_price * 1e2).astype(np.int64)
            # revenue-per-day 1e-8 units by EXACT INTEGER math (r9, the
            # oracle's rule): the 4dp price diff scaled to int64,
            # floor(D*1e4/days + 0.5). np.round of the double quotient used
            # banker's rounding — a third tie convention next to Java
            # HALF_UP and DuckDB's half-away — and knife-edge quotients
            # flipped one unit.
            d_units = np.round((sell_price - bp) * 1e4).astype(np.int64)
            rpd_units = np.floor(
                d_units * 10000 / days + 0.5
            ).astype(np.int64)

            bdays = day[buy_idx]
            for label, fsd in depth_bounds:
                sel = np.ones(k, dtype=bool) if fsd is None else (bdays > fsd)
                k_d = int(sel.sum())
                if k_d == 0:
                    continue  # no group for zero-buy depths, as in the oracle
                bp_d = bp[sel]
                sp = sell_price[..., sel]
                ap = sell_idx[..., sel]
                m_t, m_s = is_t[..., sel], is_s[..., sel]
                m_m = is_m[..., sel]

                # Money/ratio totals fold the pre-scaled int64 grids —
                # integer addition is order-independent, so the totals are
                # bit-identical to the oracle's decimal SUM, with no
                # pairwise-vs-sequential drift for a post-sum ROUND to
                # absorb (round-7 hardening, ADVICE r5/r6). Unscaling goes
                # through _unscale_exact so the int→double step stays
                # correctly rounded even past 2**53 unit totals.
                tb = _unscale_exact(int(bp_units[sel].sum()), 10**4)
                ts = _unscale_exact(
                    sp_units[..., sel].sum(axis=3), 10**2
                ).reshape(-1)
                cw = (sp > bp_d).sum(axis=3).reshape(-1)
                cl = (sp < bp_d).sum(axis=3).reshape(-1)
                srpd = _unscale_exact(
                    rpd_units[..., sel].sum(axis=3), 10**8
                ).reshape(-1)
                sdh = days[..., sel].sum(axis=3).reshape(-1)

                # distinct sell-date counts per (combo, outcome): one
                # np.unique per outcome over (combo * n + date_pos) codes
                def distinct_counts(mask: np.ndarray) -> np.ndarray:
                    codes = (combo_idx.reshape(H, R, S, 1) * n + ap)[mask]
                    return np.bincount(np.unique(codes) // n, minlength=n_combos)

                c_t = distinct_counts(m_t)
                c_s = distinct_counts(m_s)
                c_m = distinct_counts(m_m)

                out_cols = {
                    "symbol": symbol,
                    "condition_holding_days": cond_x,
                    "condition_target_return": cond_r,
                    "condition_buy_cci_threshold": b,
                    "condition_stop_loss_cci_threshold": cond_s,
                    "count_buy_date": k_d,
                    "count_reach_target_date": c_t,
                    "count_stop_loss_date": c_s,
                    "count_maturity_date": c_m,
                    "count_win": cw,
                    "count_lose": cl,
                    "sum_revenue_per_days_held": srpd,
                    "sum_days_held": sdh,
                    "count_trades": k_d,
                    "total_buy_price": tb,
                    "total_sell_price": ts,
                    "avg_revenue_per_days_held": srpd / k_d,
                    "avg_days_held": sdh / k_d,
                    "win_rate": 100.0 * cw / k_d,
                    "lose_rate": 100.0 * cl / k_d,
                    "total_revenue": ts - tb,
                    "revenue_rate": (ts - tb) / tb * 100.0,
                    "reach_target_date_count_per_buy_date_count": 100.0 * c_t / k_d,
                    "stop_loss_date_count_per_buy_date_count": 100.0 * c_s / k_d,
                    "maturity_date_count_per_buy_date_count": 100.0 * c_m / k_d,
                }
                if label is not None:
                    out_cols["search_years"] = label
                frames.append(pd.DataFrame(out_cols))
        if not frames:
            return pd.DataFrame({c: [] for c in cols})
        return pd.concat(frames, ignore_index=True)[cols]

    src = cci.select(*_INPUT_COLS)
    return src.groupBy("symbol").applyInPandas(per_symbol, schema)


def best_by(agged: DataFrame, metric: str, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A7 (daily_function.py:1078-1080): argmax condition per symbol (and
    per search depth when ``extra_keys`` carries one — the reference's best
    tables are keyed (symbol, search_years), :1072-1100).

    pandas ``idxmax`` keeps the first occurrence in grid iteration order
    (groupby sorts keys ascending), so the deterministic tie-break is the
    ascending condition tuple — identical selection semantics."""
    w = Window.partitionBy("symbol", *extra_keys).orderBy(
        F.desc(metric),
        F.asc("condition_holding_days"),
        F.asc("condition_target_return"),
        F.asc("condition_buy_cci_threshold"),
        F.asc("condition_stop_loss_cci_threshold"),
    )
    return (
        agged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
