"""Remaining SURVEY §2 operator coverage: storage/layout ops (S12/S13),
schema-align union (P14/U1), scalar round-trips (F9/F10/UD3), per-type caps
(O2), the explicit as-of join (J5), and cube grouping (north-star §2.5 note).

Storage queries write under /tmp/spark_graft_storage, at a path keyed by
the snapshot of sf_dir (operators/planmemo.py ``snapshot``). The
round-trip queries overwrite theirs on every call; their oracles
recompute the same content straight from the source tables, so the
write-read round-trip itself is what's being verified. Only the derived
input ``orders_by_year`` is staged once per snapshot (``staged``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.planmemo import snapshot, staged
from ..sources.tables import load_table, read_parquet
from .registry import query

STORAGE_ROOT = "/tmp/spark_graft_storage"


def _roundtrip_dir(kind: str, sf_dir: str) -> str:
    """Where a round-trip query writes; every call overwrites it."""
    return os.path.join(STORAGE_ROOT, f"{kind}-{snapshot(sf_dir)}")


def _orders_by_year(spark: SparkSession, sf_dir: str) -> str:
    """orders written partitioned by ``o_year``."""
    def write(out: str) -> None:
        load_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year(F.to_date("o_orderdate")).cast("int")
        ).write.partitionBy("o_year").parquet(out)

    return staged(STORAGE_ROOT, "orders_by_year", sf_dir, write)


# --- S12: latest-partition discovery ----------------------------------------

@query(
    "latest_partition",
    oracle="""
WITH o AS (
    SELECT *, CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year
    FROM orders
)
SELECT o_orderkey, o_orderstatus, o_totalprice, o_year
FROM o WHERE o_year = (SELECT MAX(o_year) FROM o)
""",
)
def q_latest_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 (daily_function.py:1140-1177): the reference regex-scans CSV
    filenames for the max date; here the table is written partitioned by
    year and the latest partition is discovered from partition values and
    read with partition pruning (the filter never touches older files).

    The build runs no Spark job: the staged dir's schema is memoized per
    snapshot, and the latest year is a scalar subquery that the scan
    evaluates as a partition filter when the query executes."""
    t = read_parquet(
        spark, sf_dir, "orders_by_year", _orders_by_year(spark, sf_dir)
    )
    latest = t.select(F.max("o_year")).scalar()
    return t.filter(F.col("o_year") == latest).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.col("o_year").cast("int").alias("o_year"),
    )


# --- S13: atomic idempotent overwrite ---------------------------------------

@query(
    "checkpoint_roundtrip",
    oracle="""
SELECT CAST(l_suppkey % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT)       AS n_rows,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem
GROUP BY 1
""",
)
def q_checkpoint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 (daily_function.py:926-971, 1128-1130): the reference's temp-file
    + shutil.move checkpoint dance becomes an atomic idempotent partitioned
    overwrite — written TWICE here on purpose: the second overwrite must
    leave identical content (rerun/resume safety), which the oracle verifies
    against the source."""
    out = _roundtrip_dir("lineitem_buckets", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "bucket", (F.col("l_suppkey") % 10).cast("long")
    )
    for _ in range(2):  # idempotence: overwrite twice, same result
        li.write.mode("overwrite").partitionBy("bucket").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


# --- P14 + U1: schema-aligned union with missing columns ---------------------

@query(
    "union_missing_columns",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority, 'full' AS src
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), o_orderpriority, 'slim'
FROM orders WHERE o_orderstatus = 'O'
""",
)
def q_union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14/U1 (daily_function.py:149-151): pandas drops all-NA columns then
    concats; Spark aligns schemas explicitly — unionByName with
    allowMissingColumns fills the gaps with nulls."""
    o = load_table(spark, sf_dir, "orders")
    full = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority", F.lit("full").alias("src")
    ).drop("o_orderpriority")
    slim = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority", F.lit("slim").alias("src")
    )
    return full.unionByName(slim, allowMissingColumns=True).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority", "src"
    )


# --- F9 / F10 / UD3: scalar round-trips -------------------------------------

@query(
    "scalar_roundtrips",
    oracle="""
SELECT event_id,
       lpad(CAST(CAST(CAST(event_id AS DOUBLE) AS BIGINT) AS VARCHAR), 12, '0') AS order_no_padded,
       strftime(ts, '%Y-%m-%dT%H:%M:%S')                   AS ts_iso,
       CAST(epoch_us(date_trunc('day', ts)) AS BIGINT)     AS day_start_us,
       CAST(EXTRACT(HOUR FROM ts) AS INTEGER)              AS hour_of_day
FROM events
""",
)
def q_scalar_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (daily_function.py:1486, 1679: str(int(float(x))) order numbers,
    zero-padded), F10 (:1620 isoformat for the Sheets sink), UD3 (:547
    midnight normalization as date_trunc)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.lpad(
            F.col("event_id").cast("double").cast("long").cast("string"), 12, "0"
        ).alias("order_no_padded"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_start_us"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    )


# --- O2: deterministic per-type head-N --------------------------------------

@query(
    "head_n_per_type",
    oracle="""
WITH ranked AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
)
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 300
""",
)
def q_head_n_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 (daily_function.py:920-921): the reference caps the universe at
    the first 300 rows per type in listing order; listing order is not a
    thing in a distributed table, so the cap gets an explicit deterministic
    ordering (value desc, key asc) — top-300 per priority class here."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 300)
    )


# --- J5: explicit as-of join -------------------------------------------------

@query(
    "asof_join",
    oracle="""
WITH joined AS (
    SELECT o.o_orderkey, o.o_orderdate, l.l_shipdate, l.l_linenumber, l.l_extendedprice,
           ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                              ORDER BY CAST(l.l_shipdate AS DATE),
                                       l.l_linenumber, l.l_extendedprice) AS rn
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
     AND CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
)
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       CAST(l_shipdate AS DATE) AS first_ship_date,
       l_linenumber, l_extendedprice AS first_ship_price
FROM joined WHERE rn = 1
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (daily_function.py:739-751): the forward as-of join in isolation —
    for each order, its FIRST shipment at-or-after the order date. Range
    predicate + deterministic first-match window; the simulator uses the
    same shape over the bounded forward price window."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_date")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.to_date("l_shipdate").alias("ship_date"),
        "l_linenumber", "l_extendedprice",
    )
    j = o.join(li, "o_orderkey").filter(F.col("ship_date") >= F.col("order_date"))
    # l_extendedprice completes the total order: the synthetic lineitem
    # carries duplicate (orderkey, linenumber) pairs (see cdc_apply),
    # so (date, linenumber) alone left first-match engine-arbitrary —
    # 3 orders flipped at sf0.1 (r9 sweep)
    w = Window.partitionBy("o_orderkey").orderBy(
        "ship_date", "l_linenumber", "l_extendedprice"
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey", "order_date",
            F.col("ship_date").alias("first_ship_date"),
            "l_linenumber",
            F.col("l_extendedprice").alias("first_ship_price"),
        )
    )


# --- cube grouping (§2.5: free via Spark, declared north-star) ---------------

@query(
    "cube_counts",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all four grouping levels in one pass
    (the reference has no grouping sets; SURVEY §2.5 notes Spark gives them
    free)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# --- skew-mitigation pattern: two-phase salted aggregation -------------------

@query(
    "salted_agg",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT)                      AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY 1
""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: l_returnflag has only
    3 values, so a single groupBy funnels the whole table into 3 reducers at
    scale. Phase 1 spreads each hot key across 16 salt buckets (map-side
    partial agg still applies); phase 2 merges the 48 partials. The salt
    never reaches the result — the oracle is the plain groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("salt", F.pmod(F.hash("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("l_quantity").cast("long")).alias("pq"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        F.sum("pq").alias("total_qty"),
    )


# --- set intersection + pivot reshape (completeness ops) ---------------------

@query(
    "intersect_keys",
    oracle="""
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
INTERSECT
SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F' AND l_quantity > 40
""",
)
def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (absent from the reference; SURVEY §2.8 notes it) — orders
    with returned items that also have large F-status lines."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    b = li.filter((F.col("l_linestatus") == "F") & (F.col("l_quantity") > 40)).select(
        "l_orderkey"
    )
    return a.intersect(b)


@query(
    "pivot_status_priority",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS st_F,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS st_O,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS st_P
FROM orders
GROUP BY 1
""",
)
def q_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot reshape: order counts by priority x status with an EXPLICIT
    pivot value list — at scale, never let pivot() infer values (that is a
    distinct scan); the fixed list keeps it one hash aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .select(
            "o_orderpriority",
            F.col("F").cast("long").alias("st_F"),
            F.col("O").cast("long").alias("st_O"),
            F.col("P").cast("long").alias("st_P"),
        )
    )


@query(
    "relative_date_window",
    oracle="""
WITH mx AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS max_d FROM lineitem)
SELECT CAST(EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS INTEGER)  AS y,
       CAST(EXTRACT(MONTH FROM CAST(l_shipdate AS DATE)) AS INTEGER) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem, mx
WHERE CAST(l_shipdate AS DATE) >= CAST(mx.max_d - INTERVAL 12 MONTH AS DATE)
GROUP BY 1, 2
""",
)
def q_relative_date_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (daily_function.py:680-681): relative lookback window — rows
    within 12 months of the table's own max date, via a scalar subquery
    broadcast into the filter (the incremental-fetch watermark shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.to_date("l_shipdate")
    mx = li.agg(F.max(d).alias("max_d"))
    return (
        li.select(d.alias("sd"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("sd") >= F.add_months(F.col("max_d"), -12))
        .groupBy(
            F.year("sd").cast("int").alias("y"),
            F.month("sd").cast("int").alias("m"),
        )
        .agg(F.count("*").alias("n_rows"))
    )


# --- analytic breadth: range frames, rank battery, string battery ------------

@query(
    "window_range_frame",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS od,
       CAST(SUM(CAST(1 AS BIGINT)) OVER (
           PARTITION BY o_orderpriority ORDER BY CAST(o_orderdate AS DATE)
           RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
FROM orders
""",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, vs the ROWS frames everywhere else): per
    priority class, how many orders fell in the trailing 7 calendar days —
    peers with equal dates all see the same frame. Spark's rangeBetween
    needs a numeric ordering column, so the date is day-numbered via
    datediff from the epoch (identical frame membership)."""
    o = load_table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    day_num = F.datediff(od, F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(day_num)
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_orderkey",
        od.alias("od"),
        F.count("*").over(w).cast("long").alias("n_7d"),
    )


@query(
    "rank_battery",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(RANK()        OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK()  OVER w AS INTEGER) AS drnk,
       PERCENT_RANK()     OVER w             AS prnk,
       CUME_DIST()        OVER w             AS cdist,
       CAST(NTILE(4)      OVER w AS INTEGER) AS quartile
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)
""",
)
def q_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic rank family over one fully-deterministic ordering —
    rank/dense_rank/percent_rank/cume_dist/ntile have identical ANSI
    semantics in both engines; percent_rank and cume_dist are ratios of
    exact integers, so the doubles hash-match."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey", "l_linenumber",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "string_battery",
    oracle="""
SELECT doc_id,
       upper(substr(text, 1, 12))                   AS head_upper,
       reverse(substr(text, 1, 12))                 AS head_rev,
       translate(substr(text, 1, 20), 'aeiou', '_____') AS devoweled,
       CAST(levenshtein(substr(text, 1, 10), 'key agg row') AS INTEGER) AS lev_to_probe,
       repeat(substr(lang, 1, 1), 3)                AS lang_tag,
       CAST(strpos(text, 'table') AS INTEGER)       AS first_table_pos
FROM documents
""",
)
def q_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar breadth beyond the reference's surface: case/reverse/
    translate/levenshtein/repeat/instr — all JVM-side, all ANSI-identical
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    head12 = F.substring("text", 1, 12)
    return d.select(
        "doc_id",
        F.upper(head12).alias("head_upper"),
        F.reverse(head12).alias("head_rev"),
        F.translate(F.substring("text", 1, 20), "aeiou", "_____").alias("devoweled"),
        F.levenshtein(F.substring("text", 1, 10), F.lit("key agg row")).cast("int").alias("lev_to_probe"),
        F.repeat(F.substring("lang", 1, 1), 3).alias("lang_tag"),
        F.instr("text", "table").cast("int").alias("first_table_pos"),
    )


@query(
    "array_agg_ops",
    oracle="""
WITH g AS (
    SELECT l_returnflag, list_sort(list(DISTINCT l_quantity)) AS qs
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       array_to_string(list_transform(qs,
           x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS quantities,
       CAST(len(qs) AS INTEGER)                      AS n_distinct,
       qs[1]                                         AS q_min,
       qs[len(qs)]                                   AS q_max,
       CAST(list_contains(qs, 25.0) AS BOOLEAN)      AS has_25,
       array_to_string(list_transform(qs[2:4],
           x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS second_to_fourth,
       list_reduce(list_prepend(CAST(0 AS DOUBLE), qs), (a, b) -> a + b) AS q_sum
FROM g
""",
)
def q_array_agg_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed compute through the full compare pipeline: sorted distinct
    collect (order-insensitive by construction), positional access, slicing,
    membership, and an exact sequential fold — the array/HOF surface SURVEY
    §2.3 notes the engine adds beyond the reference. Array-typed columns are
    emitted as DECIMAL-formatted CSV strings: the driver's canonicalizer
    sorts result columns via pandas, which cannot hash raw list cells, and
    fixed-scale decimal rendering is identical across both engines."""
    li = load_table(spark, sf_dir, "lineitem")

    def csv(col: F.Column) -> F.Column:
        return F.array_join(
            F.transform(col, lambda x: x.cast("decimal(18,2)").cast("string")), ","
        )

    qs = F.array_sort(F.collect_set("l_quantity"))
    g = li.groupBy("l_returnflag").agg(qs.alias("qs"))
    return g.select(
        "l_returnflag",
        csv(F.col("qs")).alias("quantities"),
        F.size("qs").cast("int").alias("n_distinct"),
        F.element_at("qs", 1).alias("q_min"),
        F.element_at("qs", F.size("qs")).alias("q_max"),
        F.array_contains("qs", 25.0).alias("has_25"),
        csv(F.slice("qs", 2, 3)).alias("second_to_fourth"),
        F.aggregate("qs", F.lit(0.0), lambda a, b: a + b).alias("q_sum"),
    )


@query(
    "coerce_battery",
    oracle="""
WITH vals AS (
    SELECT event_id,
        CASE WHEN event_id % 7 = 0 THEN 'x' || CAST(value AS VARCHAR)
             ELSE CAST(value AS VARCHAR) END AS num_s,
        CASE WHEN event_id % 5 = 0 THEN '2024-13-45'
             ELSE strftime(ts, '%Y-%m-%d') END AS date_s,
        CASE WHEN event_id % 3 = 0 THEN CAST(0 AS BIGINT) ELSE user_id END AS denom
    FROM events
)
SELECT event_id,
       TRY_CAST(num_s AS DOUBLE)          AS coerced_value,
       TRY_CAST(date_s AS DATE)           AS coerced_date,
       CAST(1000 AS BIGINT) / NULLIF(denom, 0) AS safe_ratio
FROM vals
""",
)
def q_coerce_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The errors='coerce' layer under ANSI mode (Spark 4 default!): plain
    CAST now ERRORS on invalid input and x/0 raises DIVIDE_BY_ZERO — so the
    pandas-coerce semantics the reference relies on (to_numeric/to_datetime
    with errors='coerce', daily_function.py:581, 1011-1016) map to try_cast
    / try_divide, which yield null exactly like DuckDB's TRY_CAST and
    null-propagating division. Invalid rows are INJECTED (every 7th number,
    every 5th date, every 3rd denominator) so the null path is actually
    exercised, not just typed."""
    ev = load_table(spark, sf_dir, "events")
    num_s = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("value").cast("string"))
    ).otherwise(F.col("value").cast("string"))
    date_s = F.when(F.col("event_id") % 5 == 0, F.lit("2024-13-45")).otherwise(
        F.date_format("ts", "yyyy-MM-dd")
    )
    denom = F.when(F.col("event_id") % 3 == 0, F.lit(0).cast("long")).otherwise(
        F.col("user_id")
    )
    return ev.select(
        "event_id",
        num_s.try_cast("double").alias("coerced_value"),
        date_s.try_cast("date").alias("coerced_date"),
        F.try_divide(F.lit(1000).cast("long"), F.nullif(denom, F.lit(0))).alias("safe_ratio"),
    )


# --- OP1/T2: batch high-watermark incremental merge --------------------------

# Fixture split literals: per-symbol cached cutoff = CUT - (suppkey % 10)
# days, so watermarks differ across symbols; the refetch band re-delivers
# the last OVERLAP_DAYS cached days (the reference's overlapping-range
# branches, daily_function.py:493-516). FEED_FLOOR is a static date strictly
# below every (cutoff - OVERLAP_DAYS), giving the feed scan a pushable
# coarse predicate — the batch analogue of partition pruning to
# "later than the oldest possible watermark".
_IM_CUT = "1998-06-01"
_IM_FLOOR = "1998-05-15"
_IM_OVERLAP = 2


@query(
    "incremental_merge",
    oracle=f"""
WITH prices AS (
    SELECT
        CAST(l_suppkey AS VARCHAR)                AS symbol,
        CAST(l_shipdate AS DATE)                  AS date,
        ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS open_pr,
        ROUND(SUM(l_extendedprice), 2)            AS close_pr,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS daily_trade_stock
    FROM lineitem
    GROUP BY 1, 2
), cutoffs AS (
    SELECT DISTINCT symbol,
           DATE '{_IM_CUT}' - to_days(CAST(symbol AS INTEGER) % 10) AS cut
    FROM prices
), cached AS (
    SELECT p.* FROM prices p JOIN cutoffs c ON c.symbol = p.symbol
    WHERE p.date <= c.cut
), wm AS (
    SELECT symbol, MAX(date) AS wm_d FROM cached GROUP BY symbol
), fetched AS (
    SELECT p.* FROM prices p
    JOIN wm ON wm.symbol = p.symbol
    WHERE p.date > DATE '{_IM_FLOOR}'
      AND p.date > wm.wm_d - to_days({_IM_OVERLAP})
), tagged AS (
    SELECT *, 'cached' AS src, 0 AS prio FROM cached
    UNION ALL
    SELECT *, 'fetched' AS src, 1 AS prio FROM fetched
), merged AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol, date
                                 ORDER BY prio DESC) AS __rn
    FROM tagged
)
SELECT symbol, date, open_pr, close_pr, daily_trade_stock, src
FROM merged WHERE __rn = 1
""",
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP1/T2 batch form — the reference's single most-executed path
    (daily_function.py:127-133: fetch only dates after the cached max;
    466-516: concat + drop_duplicates(subset=[date], keep='last') with the
    re-fetched side winning). Three-layer shape:

    1. coarse STATIC pushdown: the feed scan filters ``date > FEED_FLOOR``
       (a literal below every possible watermark) — Catalyst pushes the
       shipdate predicate into the parquet scan (PushedFilters), the batch
       analogue of pruning partitions newer than the fleet-wide low
       watermark;
    2. fine PER-SYMBOL watermark: the tiny cached-side max-date aggregate
       broadcasts back into the feed, keeping only rows newer than that
       symbol's watermark minus the re-delivery overlap;
    3. keep-last merge: union + one row_number per (symbol, date) with the
       fetched side preferred — pandas keep='last' with concat order
       [cached, new].

    At scale: cached and feed are both map-local after the broadcast joins;
    the only fact-table shuffle is the (symbol, date) dedup window, which at
    100 TB would ride the bucketed-by-symbol layout (test_bucketing.py)."""
    from ..sources.prices import prices_view

    prices = prices_view(spark, sf_dir).select(
        "symbol", "date", "open_pr", "close_pr", "daily_trade_stock"
    )
    cutoffs = prices.select("symbol").distinct().select(
        "symbol",
        F.date_sub(F.lit(_IM_CUT).cast("date"), F.col("symbol").cast("int") % 10).alias("cut"),
    )
    cached = prices.join(F.broadcast(cutoffs), "symbol").filter(
        F.col("date") <= F.col("cut")
    ).drop("cut")
    wm = cached.groupBy("symbol").agg(F.max("date").alias("wm_d"))
    fetched = (
        prices.filter(F.col("date") > F.lit(_IM_FLOOR).cast("date"))
        .join(F.broadcast(wm), "symbol")
        .filter(F.col("date") > F.date_sub(F.col("wm_d"), _IM_OVERLAP))
        .drop("wm_d")
    )
    tagged = cached.withColumns(
        {"src": F.lit("cached"), "prio": F.lit(0)}
    ).unionByName(fetched.withColumns({"src": F.lit("fetched"), "prio": F.lit(1)}))
    w = Window.partitionBy("symbol", "date").orderBy(F.desc("prio"))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("symbol", "date", "open_pr", "close_pr", "daily_trade_stock", "src")
    )


# --- S-family format breadth: CSV / JSONL / ORC round-trips ------------------

@query(
    "csv_roundtrip",
    oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT)        AS n_docs,
       CAST(SUM(n_chars) AS BIGINT)    AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len
FROM documents
GROUP BY lang, source
""",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip: documents written as quoted CSV with
    header, read back with an EXPLICIT schema (never inferSchema — a schema
    inference pass is a second full scan at 100 TB), then aggregated. The
    oracle reads the ORIGINAL parquet, so the hash match proves the text
    column survived quoting/escaping byte-for-byte."""
    out = _roundtrip_dir("docs_csv", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(out)
    back = spark.read.schema(docs.schema).option("header", True).csv(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text").cast("long")).alias("total_text_len"),
    )


@query(
    "jsonl_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price,
       CAST(MIN(o_orderdate) AS DATE) AS first_order,
       CAST(MAX(o_orderdate) AS DATE) AS last_order
FROM orders
GROUP BY o_orderpriority
""",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip over orders: timestamps serialize
    to ISO strings and must re-parse to the same instants under the UTC
    session (the oracle reads the original parquet). Explicit schema on
    read — same no-inference discipline as the CSV path; money re-aggregated
    as fixed-scale DECIMAL so the hash cannot drift."""
    out = _roundtrip_dir("orders_jsonl", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").json(out)
    back = spark.read.schema(orders.schema).json(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).cast("double")
        .alias("total_price"),
        F.to_date(F.min("o_orderdate")).alias("first_order"),
        F.to_date(F.max("o_orderdate")).alias("last_order"),
    )


@query(
    "orc_roundtrip",
    oracle="""
SELECT l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
FROM lineitem
GROUP BY l_linestatus
""",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip (the third columnar format next to
    parquet and the in-memory cache): lineitem written partitioned by
    l_linestatus, read back with partition pruning intact, aggregated per
    partition value. Proves the engine is storage-format-agnostic at the
    query layer."""
    out = _roundtrip_dir("lineitem_orc", sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_linestatus").orc(out)
    back = spark.read.orc(out)
    return back.groupBy(F.col("l_linestatus").cast("string").alias("l_linestatus")).agg(
        F.count("*").alias("n_items"),
        F.sum(F.round("l_extendedprice", 2).cast("decimal(18,2)")).cast("double")
        .alias("total_price"),
    )


@query(
    "dpp_partitioned_join",
    oracle="""
WITH o AS (
    SELECT *, CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year
    FROM orders
), picked AS (
    SELECT DISTINCT o_year FROM o WHERE o_year >= 2000
)
SELECT o.o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
FROM o JOIN picked p ON p.o_year = o.o_year
GROUP BY o.o_year
""",
)
def q_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the year-partitioned orders fact joins a
    runtime-derived year dim — Catalyst injects the dim's values as a
    DynamicPruningSubquery into the fact scan's PartitionFilters, so only
    the surviving year directories are ever LISTED or read (the 100 TB
    fact-table discipline: partition elimination must happen at the file
    index, not per row). The executed plan carries ``dynamicpruning#`` on
    the scan (pinned by test_plans.py); the oracle restates the join over
    the unpartitioned view."""
    fact = read_parquet(
        spark, sf_dir, "orders_by_year", _orders_by_year(spark, sf_dir)
    )
    dim = (
        fact.select("o_year").distinct().filter(F.col("o_year") >= 2000)
    )
    return (
        fact.join(dim.hint("broadcast"), "o_year")
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# --- schema evolution: mergeSchema over heterogeneous snapshots --------------

def evolved_orders(spark: SparkSession, sf_dir: str) -> str:
    """orders written as two snapshots with different parquet schemas:
    ``part=old`` (before 1998) predates the ``o_orderpriority`` column."""
    out = _roundtrip_dir("orders_evolve", sf_dir)
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.year("o_orderdate") < 1998).select("o_orderkey", "o_totalprice")
    new = o.filter(F.year("o_orderdate") >= 1998).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "part=old"))
    new.write.mode("overwrite").parquet(os.path.join(out, "part=new"))
    return out


@query(
    "schema_evolution_read",
    oracle="""
WITH unioned AS (
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE EXTRACT(year FROM o_orderdate) < 1998
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE EXTRACT(year FROM o_orderdate) >= 1998
)
SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM unioned
GROUP BY 1
""",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: a table whose early files predate a column
    (`o_orderpriority` added in 1998). Two physical snapshots with
    DIFFERENT parquet schemas are staged, then read back as ONE table with
    ``mergeSchema=true`` — Spark fills the missing column with nulls per
    file, exactly the additive-evolution contract a 100 TB lakehouse table
    relies on (readers must not require a rewrite of old files). The
    aggregation proves old and new files participate in one plan. Both are
    overwritten on every call (``evolved_orders``), like S2/S13 above;
    mergeSchema costs a footer-schema union at planning time only — the
    scan itself stays columnar and prunable."""
    merged = spark.read.option("mergeSchema", "true").parquet(
        evolved_orders(spark, sf_dir)
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .cast("double").alias("total_price"),
    )


# --- Rendezvous (highest-random-weight) sharding -----------------------------

HRW_N = 8          # current shard count
HRW_N_NEXT = 9     # candidate expanded shard count


@query(
    "rendezvous_sharding",
    oracle=f"""
WITH s AS (
    SELECT UNNEST(range({HRW_N_NEXT})) AS sh
), w AS (
    SELECT d.doc_id, s.sh,
           md5(s.sh || ':' || d.doc_id) AS wt
    FROM documents d CROSS JOIN s
), a AS (
    SELECT doc_id,
           arg_max(sh, wt) FILTER (WHERE sh < {HRW_N}) AS a8,
           arg_max(sh, wt) AS a9
    FROM w GROUP BY 1
)
SELECT CAST(a9 AS BIGINT) AS shard,
       CAST(COUNT(*) FILTER (WHERE a8 = a9) AS BIGINT) AS n_stable,
       CAST(COUNT(*) FILTER (WHERE a8 <> a9) AS BIGINT) AS n_moved_in,
       CAST(COUNT(*) AS BIGINT) AS n_after
FROM a GROUP BY 1
""",
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1996) — the consistent-placement policy a 100-TB table uses so that
    growing {HRW_N} -> {HRW_N_NEXT} shards moves ONLY the keys whose new
    argmax is the new shard (expected 1/{HRW_N_NEXT} of the corpus),
    never a rehash-everything shuffle. Each doc's shard is the argmax of
    md5(shard ':' doc_id) over candidate shards; the query reports, per
    post-expansion shard, how many docs were already there (n_stable)
    and how many moved in (n_moved_in) — movement lands exclusively on
    the new shard, the invariant tests/test_recommender.py pins.

    Determinism: md5 hex strings order identically in both engines;
    argmax ties are impossible short of an md5 collision. Both the
    {HRW_N}-shard and {HRW_N_NEXT}-shard assignments come from ONE
    explode + one max(struct) agg per doc (map-combinable; the
    {HRW_N_NEXT}x row blowup is bounded by the shard count, not data).

    100-TB shape: map-only scoring + per-doc agg; the per-shard rollup
    shuffles {HRW_N_NEXT} counter rows per partition."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    w = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(HRW_N_NEXT - 1))).alias("sh"),
    ).select(
        "doc_id",
        "sh",
        F.md5(F.concat_ws(":", F.col("sh"), F.col("doc_id"))).alias("wt"),
    )
    a = w.groupBy("doc_id").agg(
        F.max(F.when(F.col("sh") < HRW_N, F.struct("wt", "sh")))["sh"].alias("a8"),
        F.max(F.struct("wt", "sh"))["sh"].alias("a9"),
    )
    return a.groupBy(F.col("a9").cast("long").alias("shard")).agg(
        F.count(F.when(F.col("a8") == F.col("a9"), 1)).cast("long").alias("n_stable"),
        F.count(F.when(F.col("a8") != F.col("a9"), 1)).cast("long").alias("n_moved_in"),
        F.count("*").cast("long").alias("n_after"),
    )


# --- Incremental view maintenance: base agg ⊎ delta agg == full recompute ----

IVM_CUTOFF = "2001-01-01"   # rows before = materialized base, after = delta


# full-recompute oracle shared with the streaming consumer
# (streaming/jobs.py:stream_ivm_aggregate): the maintained view must equal
# the from-scratch aggregate whatever the batching.
IVM_AGG_ORACLE = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
       o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)))
            AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2
"""


@query("ivm_aggregate_merge", oracle=IVM_AGG_ORACLE)
def q_ivm_aggregate_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a partial-aggregate materialized
    view: the Spark side NEVER runs the full-table aggregate — it
    aggregates the pre-cutoff slice (the persisted "materialized view"),
    separately aggregates the post-cutoff delta (the newly-landed
    partition), and MERGES the two by re-aggregating the bounded
    per-group partials — while the oracle IS the full recompute. Hash
    equality proves the merge function (count-sum, sum-sum over exact
    DECIMAL(18,2)) is lossless, the algebraic property that lets a
    100-TB rollup absorb a daily partition in O(|delta| + |groups|)
    instead of O(|history|). ``incremental_merge`` is the row-level
    keep-last sibling; this is the aggregate-level one. Self-maintainable
    because count/sum are commutative monoids — a max/min view would
    need the row log on deletes (documented limit, Gupta & Mumick 1995).

    Determinism: money sums run as DECIMAL(18,2) in every branch
    (order-independent); the month key is a string in both engines.

    100-TB shape: the base agg stands in for reading the stored view
    (group-grain rows); the delta agg is partition-pruned by the cutoff
    (scan-level pushdown); the merge shuffles only group-grain rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)").alias("rev"),
        F.col("o_orderdate").cast("date").alias("dt"),
    )
    cutoff = F.lit(IVM_CUTOFF).cast("date")

    def part_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "priority").agg(
            F.count("*").cast("long").alias("n_part"),
            F.sum("rev").alias("rev_part"),
        )

    base = part_agg(o.where(F.col("dt") < cutoff))
    delta = part_agg(o.where(F.col("dt") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("month", "priority")
        .agg(
            F.sum("n_part").cast("long").alias("n_orders"),
            F.sum("rev_part").alias("rev"),
        )
    )
    return merged.select(
        "month",
        "priority",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
    )


# --- Incremental JOIN-view maintenance (the delta-join rule) -----------------

IVM_R_MOD = 13   # orders with o_orderkey % 13 == 0 form the late-arriving dR
IVM_S_MOD = 7    # lineitems with (l_orderkey + l_linenumber) % 7 == 0 form dS


@query(
    "ivm_join_merge",
    oracle=f"""
SELECT o.o_orderkey AS okey,
       CAST(l.l_linenumber AS INTEGER) AS line_no,
       o.o_custkey AS ck,
       CAST(ROUND(l.l_extendedprice * (1 - l.l_discount), 4) AS DOUBLE)
           AS revenue,
       CASE WHEN o.o_orderkey % {IVM_R_MOD} = 0
             AND (l.l_orderkey + l.l_linenumber) % {IVM_S_MOD} = 0 THEN 'dRdS'
            WHEN o.o_orderkey % {IVM_R_MOD} = 0 THEN 'dR'
            WHEN (l.l_orderkey + l.l_linenumber) % {IVM_S_MOD} = 0 THEN 'dS'
            ELSE 'base' END AS term
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
""",
)
def q_ivm_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the delta-join rule
    d(R JOIN S) = dR JOIN S0  UNION  R0 JOIN dS  UNION  dR JOIN dS
    (Blakeley et al. 1986; ``ivm_aggregate_merge`` is the aggregate-level
    sibling, this is the join-level one). The Spark side NEVER evaluates
    the full R JOIN S: it unions the stored view (R0 JOIN S0, standing in
    for a read-back of the materialized join) with the three delta terms,
    while the oracle IS the full recompute — hash equality proves the
    rule is lossless. The delta membership of every joined row is
    decidable from its own attributes (o_orderkey % {IVM_R_MOD},
    (l_orderkey + l_linenumber) % {IVM_S_MOD} — a mod-keyed CDC batch,
    deliberately NOT time-correlated: a shipdate-keyed dS would make
    dR JOIN S0 empty since lineitems ship after their order books), so
    both engines label the four terms identically.

    100-TB shape: the two delta inputs are CDC-batch-sized and BROADCAST
    into their join against the big stored side — dR JOIN S0 is a
    map-side join over one S0 scan (with the view and S bucketed on the
    join key, a layout this repo's `zorder_layout`/`compaction_plan` ops
    maintain, the probe prunes to the delta's key buckets);
    dR JOIN dS is delta-x-delta-sized. Nothing reshuffles the history.

    Determinism: revenue is per-row 4dp-exact arithmetic; term labels
    are integer mod tests; no aggregation at all."""
    o_cols = ["o_orderkey", "o_custkey"]
    s_cols = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"]
    o = load_table(spark, sf_dir, "orders").select(*o_cols)
    li = load_table(spark, sf_dir, "lineitem").select(*s_cols)
    r_is_delta = F.col("o_orderkey") % IVM_R_MOD == 0
    s_is_delta = (F.col("l_orderkey") + F.col("l_linenumber")) % IVM_S_MOD == 0
    r0, dr = o.where(~r_is_delta), o.where(r_is_delta)
    s0, ds = li.where(~s_is_delta), li.where(s_is_delta)

    def term(r: DataFrame, s: DataFrame, label: str, bcast: str) -> DataFrame:
        if bcast == "r":
            r = F.broadcast(r)
        elif bcast == "s":
            s = F.broadcast(s)
        return r.join(s, F.col("l_orderkey") == F.col("o_orderkey")).select(
            F.col("o_orderkey").alias("okey"),
            F.col("l_linenumber").cast("int").alias("line_no"),
            F.col("o_custkey").alias("ck"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            .cast("double")
            .alias("revenue"),
            F.lit(label).alias("term"),
        )

    view0 = term(r0, s0, "base", "")          # the stored view stand-in
    return (
        view0
        .unionByName(term(dr, s0, "dR", "r"))   # dR JOIN S0: broadcast dR
        .unionByName(term(r0, ds, "dS", "s"))   # R0 JOIN dS: broadcast dS
        .unionByName(term(dr, ds, "dRdS", "r"))  # delta x delta
    )
