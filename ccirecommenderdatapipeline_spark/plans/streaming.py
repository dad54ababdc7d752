"""Event-time window queries over ``events`` — batch forms (oracle-backed)
plus the real Structured Streaming jobs, registered straight from
``streaming/jobs.py``, whose availableNow runs must equal the batch
oracle exactly (SURVEY.md §2.9).

Window keys are epoch microseconds (see streaming/jobs.py docstring);
``sum_value`` uses the exact DECIMAL trick so grouped double sums are
order-independent in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from ..streaming import jobs
from ..streaming.jobs import (
    ATTRIB_GAP_HOURS,
    GAP_US,
    attribution_join_plan,
    exact_value_sum,
    tumbling_agg_plan,
)
from .registry import query

_SUM_SQL = "CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)"

TUMBLING_ORACLE = f"""
WITH e AS (
    SELECT *, CAST(epoch_us(ts) AS BIGINT) AS eus FROM events
)
SELECT eus - eus % 3600000000                 AS w_start_us,
       eus - eus % 3600000000 + 3600000000    AS w_end_us,
       CAST(COUNT(*) AS BIGINT)               AS n_events,
       {_SUM_SQL}                             AS sum_value
FROM e
GROUP BY 1, 2
"""


@query("tumbling_window_agg", oracle=TUMBLING_ORACLE)
def q_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows (batch form of the streaming
    plan — byte-identical aggregation code path, see tumbling_agg_plan)."""
    return tumbling_agg_plan(load_table(spark, sf_dir, "events"))


query("stream_tumbling_agg", oracle=TUMBLING_ORACLE)(jobs.stream_tumbling_agg)


@query(
    "sliding_window_agg",
    oracle=f"""
WITH e AS (
    SELECT *, CAST(epoch_us(ts) AS BIGINT) AS eus FROM events
), expanded AS (
    SELECT *, unnest([eus - eus % 1800000000,
                      eus - eus % 1800000000 - 1800000000]) AS w_start_us
    FROM e
)
SELECT w_start_us, w_start_us + 3600000000 AS w_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_SUM_SQL}               AS sum_value
FROM expanded
GROUP BY 1, 2
""",
)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes — each event lands in exactly
    two windows (Spark's window() explodes rows; the oracle unnests the same
    two aligned starts)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            exact_value_sum().alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("w_start_us"),
            F.unix_micros(F.col("window.end")).alias("w_end_us"),
            "n_events", "sum_value",
        )
    )


@query(
    "session_windows",
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id, value, CAST(epoch_us(ts) AS BIGINT) AS eus FROM events
), lagged AS (
    SELECT *, LAG(eus) OVER (PARTITION BY user_id ORDER BY eus, event_id) AS prev_eus
    FROM e
), flagged AS (
    SELECT *, CASE WHEN prev_eus IS NULL OR eus - prev_eus > {GAP_US} THEN 1 ELSE 0 END AS new_sess
    FROM lagged
), numbered AS (
    SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY eus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       MIN(eus)                   AS session_start_us,
       MAX(eus)                   AS session_end_us,
       MAX(eus) - MIN(eus)        AS duration_us,
       CAST(COUNT(*) AS BIGINT)   AS n_events,
       {_SUM_SQL}                 AS sum_value
FROM numbered
GROUP BY 1, 2
""",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap: lag -> boundary flag
    -> running session counter -> per-session rollup. One shuffle on user_id
    serves the lag, the counter, and the final group-by (same partitioning,
    Catalyst reuses the sort)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("eus")
    )
    w = Window.partitionBy("user_id").orderBy("eus", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("eus").over(w).isNull()
            | (F.col("eus") - F.lag("eus").over(w) > GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return numbered.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.min("eus").alias("session_start_us"),
        F.max("eus").alias("session_end_us"),
        (F.max("eus") - F.min("eus")).alias("duration_us"),
        F.count("*").alias("n_events"),
        exact_value_sum().alias("sum_value"),
    )


@query(
    "session_window_builtin",
    oracle=f"""
WITH e AS (
    SELECT user_id, event_id, value, CAST(epoch_us(ts) AS BIGINT) AS eus FROM events
), lagged AS (
    SELECT *, LAG(eus) OVER (PARTITION BY user_id ORDER BY eus, event_id) AS prev_eus
    FROM e
), flagged AS (
    -- >=: the built-in's session end is EXCLUSIVE at last+gap, so equal
    -- spacing starts a new session (differs from the manual session_windows
    -- query above, which defines its own inclusive-gap rule with >)
    SELECT *, CASE WHEN prev_eus IS NULL OR eus - prev_eus >= {GAP_US} THEN 1 ELSE 0 END AS new_sess
    FROM lagged
), numbered AS (
    SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY eus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(eus)            AS w_start_us,
       MAX(eus) + {GAP_US} AS w_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_SUM_SQL}          AS sum_value
FROM numbered
GROUP BY user_id, session_id
""",
)
def q_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (streaming-capable) cross-validated
    against the first-principles lag/cumsum sessionization. Boundary rule:
    a session's end is EXCLUSIVE at last_event + gap, so an event spaced
    exactly ``gap`` after its predecessor starts a NEW session — the oracle
    therefore breaks on ``spacing >= gap``, matching the built-in
    bit-for-bit even at the degenerate equal-spacing boundary."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_value_sum().alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            F.unix_micros(F.col("w.end")).alias("w_end_us"),
            "n_events", "sum_value",
        )
    )


# --- stream-stream join + watermark dedup ------------------------------------

ATTRIB_ORACLE = f"""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL {ATTRIB_GAP_HOURS} HOUR
"""


@query("interval_join_attribution", oracle=ATTRIB_ORACLE)
def q_interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the event-time interval join: purchases attributed to
    the same user's clicks in the preceding {gap} hours. Same plan code as
    the stream-stream form (attribution_join_plan)."""
    ev = load_table(spark, sf_dir, "events")
    return attribution_join_plan(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )


query("stream_stream_join", oracle=ATTRIB_ORACLE)(jobs.stream_stream_attribution)

query(
    "stream_dedup_watermark",
    oracle="""
SELECT DISTINCT event_id, user_id, event_type,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       round(value, 6) AS value
FROM events
""",
)(jobs.stream_dedup_watermark)

query(
    "stream_stateful_counts",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""",
)(jobs.stream_stateful_counts)

query(
    "stream_tws_user_stats",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events GROUP BY user_id
""",
)(jobs.stream_tws_user_stats)

query(
    "stream_static_join",
    oracle=f"""
WITH users AS (
    SELECT user_id,
           CASE WHEN COUNT(*) >= 70 THEN 'heavy' ELSE 'light' END AS segment
    FROM events GROUP BY user_id
)
SELECT u.segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_purchases,
       {_SUM_SQL} AS sum_value
FROM events e JOIN users u ON u.user_id = e.user_id
GROUP BY u.segment
""",
)(jobs.stream_static_join)

query(
    "stream_merge_upsert",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_SUM_SQL} AS sum_value
FROM events GROUP BY event_type
""",
)(jobs.stream_merge_upsert)


from .registry import ORACLES as _ORACLES  # noqa: E402

query("stream_session_agg", oracle=_ORACLES["session_window_builtin"])(
    jobs.stream_session_agg
)


OUTER_ATTRIB_ORACLE = f"""
SELECT p.event_id AS purchase_id,
       p.user_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
       c.event_id AS click_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_us,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL {ATTRIB_GAP_HOURS} HOUR
"""


query("stream_outer_join", oracle=OUTER_ATTRIB_ORACLE)(jobs.stream_outer_attribution)


from .corpus import CMS_SKETCH_CTES, HLL_DISTINCT_ORACLE  # noqa: E402

query(
    "stream_cms_merge",
    oracle="WITH " + CMS_SKETCH_CTES + "\nSELECT d, pos, c FROM sketch",
)(jobs.stream_cms_merge)

# imported after stream_cms_merge registers, which keeps the registry order
from .analytics import QSK_ORACLE  # noqa: E402
from .recommender import DECAYED_POP_ORACLE  # noqa: E402
from .storage import IVM_AGG_ORACLE  # noqa: E402

query("stream_decayed_popularity", oracle=DECAYED_POP_ORACLE)(
    jobs.stream_decayed_popularity
)
query("stream_hll_merge", oracle=HLL_DISTINCT_ORACLE)(jobs.stream_hll_merge)
query("stream_ivm_aggregate", oracle=IVM_AGG_ORACLE)(jobs.stream_ivm_aggregate)
query("stream_quantile_sketch", oracle=QSK_ORACLE)(jobs.stream_quantile_sketch)


from .events import PSI_BINS, PSI_SPLIT_DAY  # noqa: E402
from ..operators.lnq import LN_UNIT_SCALE, ln_units_sql  # noqa: E402

# Streaming PSI oracle: same PSI formula/quantization as psi_feature_drift
# (integer nano-nat units, operators/lnq.py) but
# with the bin edges FROZEN from the BASE slice only (a streaming monitor
# cannot see the future's min/max) and out-of-range serving values clamped
# into the edge bins. Event types with no base-slice rows have no frozen
# edges and are absent — matching the Spark side's inner join on edges.
_psi_lnu = ln_units_sql(
    f"((g.c_b + 1) / CAST(t.n_b + {PSI_BINS} AS DOUBLE))"
    f" / ((g.c_c + 1) / CAST(t.n_c + {PSI_BINS} AS DOUBLE))"
)

STREAM_PSI_ORACLE = f"""
WITH ev AS (
    SELECT event_type, value,
           CAST(EXTRACT(day FROM ts) <= {PSI_SPLIT_DAY} AS INTEGER) AS is_base
    FROM events
), rng AS (
    SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
    FROM ev WHERE is_base = 1 GROUP BY 1
), binned AS (
    SELECT e.event_type, e.is_base,
           CASE WHEN r.hi = r.lo THEN 0
                ELSE LEAST(GREATEST(
                        CAST(FLOOR((e.value - r.lo) / (r.hi - r.lo)
                                   * {PSI_BINS}) AS BIGINT),
                        0), {PSI_BINS - 1})
           END AS bin
    FROM ev e JOIN rng r ON r.event_type = e.event_type
), counts AS (
    SELECT event_type, bin,
           CAST(COUNT(*) FILTER (WHERE is_base = 1) AS BIGINT) AS c_b,
           CAST(COUNT(*) FILTER (WHERE is_base = 0) AS BIGINT) AS c_c
    FROM binned GROUP BY 1, 2
), grid AS (
    SELECT t.event_type, b.bin,
           COALESCE(c.c_b, 0) AS c_b, COALESCE(c.c_c, 0) AS c_c
    FROM (SELECT DISTINCT event_type FROM rng) t
    CROSS JOIN (SELECT unnest(range({PSI_BINS})) AS bin) b
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
), tots AS (
    SELECT event_type, CAST(SUM(c_b) AS BIGINT) AS n_b,
           CAST(SUM(c_c) AS BIGINT) AS n_c
    FROM grid GROUP BY 1
), terms AS (
    SELECT g.event_type, t.n_b, t.n_c,
           (CAST(g.c_b + 1 AS HUGEINT) * CAST(t.n_c + {PSI_BINS} AS HUGEINT)
                - CAST(g.c_c + 1 AS HUGEINT) * CAST(t.n_b + {PSI_BINS} AS HUGEINT))
             * {_psi_lnu} AS prod
    FROM grid g JOIN tots t ON t.event_type = g.event_type
)
SELECT event_type, n_b AS n_base, n_c AS n_current,
       ROUND(CAST(SUM(prod) AS DOUBLE)
             / (CAST(n_b + {PSI_BINS} AS DOUBLE)
                * CAST(n_c + {PSI_BINS} AS DOUBLE))
             / {LN_UNIT_SCALE}.0, 8) AS psi
FROM terms GROUP BY 1, 2, 3
"""


from .events import KS_BINS  # noqa: E402

# Streaming binned-KS oracle: identical frozen-edge binning to the PSI
# oracle (KS_BINS bins), then the per-type ECDF-gap sup over cumulative
# bin counts. No transcendental and no rounding: every quotient is one
# correctly-rounded IEEE division on exact longs and abs/max are exact,
# so the double readout is engine-identical without a quantization rule.
STREAM_KS_ORACLE = f"""
WITH ev AS (
    SELECT event_type, value,
           CAST(EXTRACT(day FROM ts) <= {PSI_SPLIT_DAY} AS INTEGER) AS is_base
    FROM events
), rng AS (
    SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
    FROM ev WHERE is_base = 1 GROUP BY 1
), binned AS (
    SELECT e.event_type, e.is_base,
           CASE WHEN r.hi = r.lo THEN 0
                ELSE LEAST(GREATEST(
                        CAST(FLOOR((e.value - r.lo) / (r.hi - r.lo)
                                   * {KS_BINS}) AS BIGINT),
                        0), {KS_BINS - 1})
           END AS bin
    FROM ev e JOIN rng r ON r.event_type = e.event_type
), counts AS (
    SELECT event_type, bin,
           CAST(COUNT(*) FILTER (WHERE is_base = 1) AS BIGINT) AS c_b,
           CAST(COUNT(*) FILTER (WHERE is_base = 0) AS BIGINT) AS c_c
    FROM binned GROUP BY 1, 2
), grid AS (
    SELECT t.event_type, b.bin,
           COALESCE(c.c_b, 0) AS c_b, COALESCE(c.c_c, 0) AS c_c
    FROM (SELECT DISTINCT event_type FROM rng) t
    CROSS JOIN (SELECT unnest(range({KS_BINS})) AS bin) b
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
), tots AS (
    SELECT event_type, CAST(SUM(c_b) AS BIGINT) AS n_b,
           CAST(SUM(c_c) AS BIGINT) AS n_c
    FROM grid GROUP BY 1
), cum AS (
    SELECT event_type, bin,
           SUM(c_b) OVER (PARTITION BY event_type ORDER BY bin) AS c_b_cum,
           SUM(c_c) OVER (PARTITION BY event_type ORDER BY bin) AS c_c_cum
    FROM grid
)
SELECT c.event_type, t.n_b AS n_base, t.n_c AS n_current,
       MAX(CASE WHEN t.n_c > 0 THEN
               ABS(CAST(c.c_b_cum AS DOUBLE) / t.n_b
                   - CAST(c.c_c_cum AS DOUBLE) / t.n_c)
           END) AS ks
FROM cum c JOIN tots t USING (event_type)
GROUP BY 1, 2, 3
"""


query("stream_ks_drift", oracle=STREAM_KS_ORACLE)(jobs.stream_ks_drift)
query("stream_psi_drift", oracle=STREAM_PSI_ORACLE)(jobs.stream_psi_drift)

