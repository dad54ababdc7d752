"""Item co-occurrence mining — the recommender-side ops a purchase-history
pipeline runs next to the price-signal side (reference daily_function.py's
recommendation lifecycle stops at per-symbol signals; these are the
catalog-level "customers who bought X also bought Y" aggregates that feed a
candidate generator).

Two classic shapes over the order history:

* ``market_basket_pairs`` — frequent-itemset mining at pair grain
  (Agrawal & Srikant's A-priori support/confidence/lift, VLDB 1994),
  i.e. the first ECLAT/A-priori pass a basket-analysis job materializes.
* ``item_item_cosine`` — Sarwar et al. (WWW 2001) item-item collaborative
  filtering: cosine similarity between items' customer-incidence vectors,
  top-k neighbors per item.

Scale notes (100 TB): both are self-joins on a transaction key. The
fan-out per key is bounded by the ITEM VOCABULARY (25 brands here; a
catalog's brand/category dim in production), so a basket of any size
explodes to at most |V| rows and C(|V|,2) pairs — the shuffle carries the
distinct (key, item) incidence, never the raw lineitem stream, and the
pair aggregate is map-combinable. For an unbounded vocabulary (raw SKU
grain) you would block first (LSH / minhash over baskets, as
plans/text.py does for documents) — documented here rather than
implemented because the bounded-dim variant is what the oracle can prove
exactly.

Determinism: every measure is an exact BIGINT count; ratios are single
IEEE-754 divisions (and one correctly-rounded sqrt) on identical integer
inputs, so both engines produce bit-identical doubles before the final
cosmetic ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel

from ..operators.planmemo import shared_view
from ..operators.windows import bounded_window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

# Pair must appear in >= this fraction of baskets — a FRACTION, not an
# absolute count, so the selectivity survives any scale factor.
MIN_SUPPORT = 0.025

TOP_NEIGHBORS = 3


def cb_incidence_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared distinct (ck, brand) customer-brand incidence, persisted
    lazily (r16, the ``agged_view`` treatment): six registered queries
    (``item_item_cosine``, ``reco_candidates``, ``reco_coverage_gini``,
    ``mmr_rerank``, ``als_item_step``, ``negative_sampling``) embed this
    identical three-table join + distinct; before r16 each built (and
    persisted) its own copy — CacheManager plan-matching deduped the
    DATA within a warm session, but every embedding re-ran the O(n)
    build analysis and the cold path re-shuffled the corpus per query.
    One memoized lazy plan + one persist marker makes the sharing
    explicit (guide §2.4 share-one-exchange / §5 cache-when-reused).

    100-TB shape unchanged: the distinct is the one corpus-scale shuffle
    (key ck, fan-out bounded by the brand vocabulary); part broadcasts."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select(
                F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand")
            )
            .distinct()
        )

    return shared_view(
        spark, "cb_incidence", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


def brand_sim_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared item-item cosine model (brand_a, brand_b, both_cnt, c_a,
    c_b, cosine), persisted lazily (r16): the |V|^2-bounded similarity
    table four queries (``item_item_cosine``, ``reco_candidates``,
    ``reco_coverage_gini``, ``mmr_rerank``) previously each re-derived
    from the incidence — the ~5.5M-row pair self-join + aggregate ran
    once PER QUERY in a warm sweep because only the incidence below it
    was cached. Persisting the <= |V|(|V|-1) = 600-row result serves all
    four from one build (guide §2.4). Carries the exact integer inputs
    (both_cnt, c_a, c_b) alongside the pre-rounded cosine so
    ``item_item_cosine`` can re-derive its unrounded ranking key
    bit-identically."""
    def build() -> DataFrame:
        cb = cb_incidence_view(spark, sf_dir)
        bc = cb.groupBy("brand").agg(F.count("*").cast("long").alias("c"))
        b = cb.select("ck", F.col("brand").alias("brand_b"))
        pairs = (
            cb.select("ck", F.col("brand").alias("brand_a"))
            .join(b, "ck")
            .where(F.col("brand_a") != F.col("brand_b"))
            .groupBy("brand_a", "brand_b")
            .agg(F.count("*").cast("long").alias("both_cnt"))
        )
        ca = bc.select(F.col("brand").alias("brand_a"), F.col("c").alias("c_a"))
        cb2 = bc.select(
            F.col("brand").alias("brand_b"), F.col("c").alias("c_b")
        )
        return (
            pairs.join(F.broadcast(ca), "brand_a")
            .join(F.broadcast(cb2), "brand_b")
            .select(
                "brand_a",
                "brand_b",
                "both_cnt",
                "c_a",
                "c_b",
                F.round(
                    F.col("both_cnt")
                    / F.sqrt(F.col("c_a").cast("double") * F.col("c_b")),
                    8,
                ).alias("cosine"),
            )
        )

    return shared_view(
        spark, "brand_sim", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


def order_baskets_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (ok, sorted distinct brand array) baskets, memoized +
    persisted (r16): ``market_basket_pairs`` and ``apriori_triples``
    both need the order->brands incidence, and the r15 apriori replan
    proved the winning form is ONE groupBy(ok) collect_set (the
    distinct and the only basket-scale shuffle in one) with pair rows
    GENERATED map-side from the sorted array. One family build serves
    both queries per session.

    part is projected to its 2-column (partkey, brand) dim before the
    join; at testdata scale that side broadcasts, and at warehouse scale
    the projection keeps the shuffle payload to key+brand."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        return (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy(F.col("l_orderkey").alias("ok"))
            .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
        )

    return shared_view(
        spark, "order_baskets", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


def brand_transitions_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (brand_from, brand_to, cnt) consecutive-order transition
    counts, memoized + persisted (r16; guide §2.4 share-one-build):
    ``brand_transition_matrix`` and ``markov_stationary`` built the
    IDENTICAL corpus prefix — incidence join -> (ck, ok, dt) basket
    collect_set -> per-customer LAG window -> double explode ->
    groupBy(from, to) — and diverge only downstream (row-normalized
    probabilities vs the power-iteration fold). The persisted result is
    <= |V|^2 = 625 rows; one basket shuffle + one window per session
    instead of per query."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        ob = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select(
                F.col("o_custkey").alias("ck"),
                F.col("o_orderkey").alias("ok"),
                F.col("o_orderdate").alias("dt"),
                F.col("p_brand").alias("brand"),
            )
        )
        baskets = ob.groupBy("ck", "ok", "dt").agg(
            F.collect_set("brand").alias("bs")
        )
        w = Window.partitionBy("ck").orderBy("dt", "ok")
        lagged = (
            baskets.withColumn("prev", F.lag("bs").over(w))
            .where(F.col("prev").isNotNull())
        )
        return (
            lagged.select(F.explode("prev").alias("brand_from"), "bs")
            .select("brand_from", F.explode("bs").alias("brand_to"))
            .groupBy("brand_from", "brand_to")
            .agg(F.count("*").cast("long").alias("cnt"))
        )

    return shared_view(
        spark, "brand_transitions", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """Explode each sorted basket array to its C(k,2) ordered (u < v)
    brand pairs map-side — the r15 apriori form, shared by the pair
    pass of both basket queries. Keeps ``bs`` alongside ``pr`` for
    consumers that extend pairs within the basket."""
    bs, k = F.col("bs"), F.size(F.col("bs"))
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), k - 1),
            lambda i: F.transform(
                F.sequence(i + 1, k),
                lambda j: F.struct(
                    F.element_at(bs, i).alias("u"),
                    F.element_at(bs, j).alias("v"),
                ),
            ),
        )
    )
    # sequence(1, k-1) would DESCEND for k < 2 — guard with a typed
    # empty array (explode then drops the basket)
    empty_pairs = F.expr("CAST(array() AS array<struct<u:string,v:string>>)")
    return baskets.select(
        "bs",
        F.explode(F.when(k >= 2, pair_structs).otherwise(empty_pairs)).alias(
            "pr"
        ),
    )


@query(
    "market_basket_pairs",
    oracle=f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS pair_cnt
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
)
SELECT pairs.brand_a, pairs.brand_b, pair_cnt,
       ROUND(pair_cnt / n.n_orders, 8) AS support,
       ROUND(pair_cnt / ca.c, 8) AS conf_a_to_b,
       ROUND((pair_cnt * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c), 8)
           AS lift
FROM pairs
JOIN bc ca ON ca.brand = pairs.brand_a
JOIN bc cb ON cb.brand = pairs.brand_b
CROSS JOIN n
WHERE pair_cnt / n.n_orders >= {MIN_SUPPORT}
""",
)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori pair pass: brand pairs co-purchased in >= {MIN_SUPPORT:.1%}
    of orders, with support, directed confidence P(b|a), and lift
    support(ab)/(support(a)*support(b)).

    Plan: one distinct (order, brand) incidence scan feeds three
    map-combinable aggregates (basket count, per-brand counts, pair
    counts via an ok-equi self-join with brand_a < brand_b to emit each
    unordered pair once); per-brand counts and the scalar basket total
    re-enter by broadcast. lift's numerator is an exact int64 product
    (pair_cnt, n_orders both bounded by basket count) divided once as a
    double — no summation-order exposure anywhere.

    r16: served from the shared ``order_baskets_view`` with pair rows
    generated map-side from the sorted basket array (the r15
    apriori_triples form: the collect_set IS the distinct and the only
    basket-scale shuffle; the self-join's exchanges are gone) — each
    unordered pair still appears exactly once per basket, so every
    count is unchanged."""
    baskets = order_baskets_view(spark, sf_dir)
    n = baskets.agg(F.count("*").cast("long").alias("n_orders"))
    bc = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pairs = (
        _basket_pairs(baskets)
        .groupBy(
            F.col("pr.u").alias("brand_a"), F.col("pr.v").alias("brand_b")
        )
        .agg(F.count("*").cast("long").alias("pair_cnt"))
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("c").alias("c_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .where(F.col("pair_cnt") / F.col("n_orders") >= F.lit(MIN_SUPPORT))
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            F.round(F.col("pair_cnt") / F.col("n_orders"), 8).alias("support"),
            F.round(F.col("pair_cnt") / F.col("c_a"), 8).alias("conf_a_to_b"),
            F.round(
                (F.col("pair_cnt") * F.col("n_orders"))
                / (F.col("c_a").cast("double") * F.col("c_b")),
                8,
            ).alias("lift"),
        )
    )


@query(
    "item_item_cosine",
    oracle=f"""
WITH cb AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM cb GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS both_cnt
    FROM cb a JOIN cb b ON a.ck = b.ck AND a.brand <> b.brand
    GROUP BY 1, 2
), scored AS (
    SELECT pairs.brand_a, pairs.brand_b, both_cnt,
           ROUND(both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c), 8)
               AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY pairs.brand_a
               ORDER BY both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c) DESC,
                        pairs.brand_b
           ) AS rnk
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb2 ON cb2.brand = pairs.brand_b
)
SELECT brand_a, brand_b, both_cnt, cosine, CAST(rnk AS INT) AS rnk
FROM scored WHERE rnk <= {TOP_NEIGHBORS}
""",
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001): cosine
    similarity between brands' binary customer-incidence vectors,
    |A ∩ B| / sqrt(|A| |B|), top-{TOP_NEIGHBORS} neighbors per brand.

    Directed pairs (brand_a <> brand_b) so every brand gets its own
    neighbor list; rank ties break on brand_b for a total order. The
    window partitions by brand_a — |V| partitions of <= |V|-1 rows, never
    an unpartitioned sort. sqrt is IEEE-754 correctly rounded, so
    cosine is bit-identical across engines before the cosmetic ROUND.

    100-TB shape: incidence distinct + self-join on custkey (fan-out
    bounded by the brand vocabulary as in ``market_basket_pairs``), pair
    agg map-combinable, per-brand counts broadcast back; the neighbor
    window runs over the |V|^2-bounded pair table, not the corpus.

    r16: served from the shared ``brand_sim_view`` (one incidence +
    pair build for the whole recommender family); the ranking key is
    re-derived UNROUNDED from the view's exact integer columns, the
    identical expression the inline build ordered by."""
    sv = brand_sim_view(spark, sf_dir)
    cosine = F.col("both_cnt") / F.sqrt(
        F.col("c_a").cast("double") * F.col("c_b")
    )
    w = Window.partitionBy("brand_a").orderBy(cosine.desc(), F.asc("brand_b"))
    scored = sv.select(
        "brand_a",
        "brand_b",
        "both_cnt",
        F.round(cosine, 8).alias("cosine"),
        F.row_number().over(w).cast("int").alias("rnk"),
    )
    return scored.where(F.col("rnk") <= TOP_NEIGHBORS)


# --- Sequential patterns: consecutive-order brand transitions ----------------


@query(
    "brand_transition_matrix",
    oracle="""
WITH ob AS (
    SELECT DISTINCT o.o_custkey AS ck, o.o_orderkey AS ok,
                    o.o_orderdate AS dt, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), ordseq AS (
    SELECT ck, ok, DENSE_RANK() OVER (PARTITION BY ck ORDER BY dt, ok) AS rn
    FROM (SELECT DISTINCT ck, ok, dt FROM ob)
), tr AS (
    SELECT a.brand AS brand_from, b.brand AS brand_to,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ob a
    JOIN ordseq sa ON sa.ok = a.ok
    JOIN ordseq sb ON sb.ck = sa.ck AND sb.rn = sa.rn + 1
    JOIN ob b ON b.ok = sb.ok
    GROUP BY 1, 2
), ft AS (
    SELECT brand_from, CAST(SUM(cnt) AS BIGINT) AS tot FROM tr GROUP BY 1
)
SELECT tr.brand_from, tr.brand_to, cnt,
       ROUND(cnt / ft.tot, 8) AS prob
FROM tr JOIN ft ON ft.brand_from = tr.brand_from
""",
)
def q_brand_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over purchase sequences: for
    each customer, orders are sequenced by (date, orderkey) and every
    brand in order t feeds every brand in order t+1; P(to|from) is the
    row-normalized count — the sequential-pattern sibling of
    ``market_basket_pairs`` (within-basket) and ``item_item_cosine``
    (across a customer's whole history): same incidence scan, but time
    direction matters.

    Plan: baskets collapse to ARRAY rows at (ck, ok) grain (collect_set —
    bounded by the vocabulary), consecutive baskets pair via a single
    LAG window BY CUSTOMER (bounded partitions — a customer's order
    count), and the from x to fan-out is a map-side double explode of
    two <= |V| arrays. One basket shuffle + one window + a bounded-key
    agg — measured 2.5-4x faster than the earlier 3-join formulation
    (rank + (ck, rn+1) self-join + two ok joins), row-identical. Row
    totals re-enter by broadcast.

    Determinism: counts exact; one int/int double division, ROUND 8.

    r16: the transition counts come from the shared persisted
    ``brand_transitions_view`` (one build serves this and
    ``markov_stationary``); the normalization is unchanged."""
    tr = brand_transitions_view(spark, sf_dir)
    ft = tr.groupBy("brand_from").agg(F.sum("cnt").cast("long").alias("tot"))
    return tr.join(F.broadcast(ft), "brand_from").select(
        "brand_from",
        "brand_to",
        "cnt",
        F.round(F.col("cnt") / F.col("tot"), 8).alias("prob"),
    )


# --- Time-decayed popularity (dyadic-exact decay) ----------------------------

DECAY_DAYS = 90   # one half-life per 90 days of age
DECAY_CAP = 20    # cap the exponent: ages beyond 20 half-lives all weigh 1


DECAYED_POP_ORACLE = f"""
WITH ref AS (
    SELECT MAX(CAST(o_orderdate AS DATE)) AS rd FROM orders
), w AS (
    SELECT p.p_brand AS brand,
           (CAST(1 AS BIGINT) << ({DECAY_CAP} - LEAST(
                date_diff('day', CAST(o.o_orderdate AS DATE), ref.rd)
                    // {DECAY_DAYS}, {DECAY_CAP}))) AS wt
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    CROSS JOIN ref
), agg AS (
    SELECT brand, CAST(SUM(wt) AS BIGINT) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM w GROUP BY 1
), tot AS (
    SELECT CAST(SUM(score) AS BIGINT) AS t FROM agg
)
SELECT brand, n_events, score,
       ROUND(score / CAST(t AS DOUBLE), 8) AS share,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, brand) AS INT) AS rnk
FROM agg CROSS JOIN tot
"""


@query("decayed_popularity", oracle=DECAYED_POP_ORACLE)
def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed brand popularity: each purchase event weighs
    2^-(age_days // {DECAY_DAYS} half-lives), i.e. halves every
    {DECAY_DAYS} days of age, capped at {DECAY_CAP} half-lives — the
    recency prior a candidate generator blends with ``item_item_cosine``
    scores (exact recency ranking, vs ``ewma_latest``'s per-symbol
    smoothing).

    Exactness: the decay is DYADIC — weights are integer powers of two
    built by shiftleft, so the per-brand score is an exact int64 sum
    (order-independent, no floating decay drift; max weight 2^{DECAY_CAP}
    * corpus events stays far under int64). The only double op is the
    final share division. The global ranking window runs over the
    |V|-bounded aggregate, not the event stream.

    100-TB shape: scan -> map-side weight -> hash agg on brand (bounded
    key); the reference date is a broadcast scalar agg."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("rd"))
    k = F.least(
        F.floor(
            F.datediff(F.col("rd"), F.col("o_orderdate").cast("date"))
            / F.lit(DECAY_DAYS)
        ),
        F.lit(DECAY_CAP).cast("long"),
    )
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .crossJoin(F.broadcast(ref))
        .withColumn("kk", k.cast("int"))
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {DECAY_CAP} - kk)").alias("wt"),
        )
    )
    agg = w.groupBy("brand").agg(
        F.sum("wt").cast("long").alias("score"),
        F.count("*").cast("long").alias("n_events"),
    )
    tot = agg.agg(F.sum("score").cast("long").alias("t"))
    rw = bounded_window(
        F.desc("score"), F.asc("brand"),
        bound="input is the per-brand aggregate: <= |brand vocabulary| rows",
        queries=("decayed_popularity",),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "n_events",
            "score",
            F.round(F.col("score") / F.col("t").cast("double"), 8).alias("share"),
            F.row_number().over(rw).cast("int").alias("rnk"),
        )
    )


# --- Candidate generation: unbought neighbor brands per customer -------------

CAND_SAMPLE_MOD = 97   # audit slice: customers with ck % 97 == 0
CAND_TOP = 5


@query(
    "reco_candidates",
    oracle=f"""
WITH cb AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM cb GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS both_cnt
    FROM cb a JOIN cb b ON a.ck = b.ck AND a.brand <> b.brand
    GROUP BY 1, 2
), sim AS (
    SELECT pairs.brand_a, pairs.brand_b,
           ROUND(both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c), 8) AS cosine
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb2 ON cb2.brand = pairs.brand_b
), cand AS (
    SELECT cb.ck, s.brand_b AS brand, MAX(s.cosine) AS score
    FROM cb JOIN sim s ON s.brand_a = cb.brand
    WHERE cb.ck % {CAND_SAMPLE_MOD} = 0
      AND NOT EXISTS (SELECT 1 FROM cb b2
                      WHERE b2.ck = cb.ck AND b2.brand = s.brand_b)
    GROUP BY 1, 2
)
SELECT ck, brand, score, CAST(rnk AS INT) AS rnk FROM (
    SELECT ck, brand, score,
           ROW_NUMBER() OVER (PARTITION BY ck ORDER BY score DESC, brand) AS rnk
    FROM cand
) WHERE rnk <= {CAND_TOP}
""",
)
def q_reco_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation — the recall stage of the recommender: for an
    audit slice of customers (ck % {CAND_SAMPLE_MOD} == 0), the top-
    {CAND_TOP} brands they have NOT bought, scored by the max
    ``item_item_cosine`` similarity to any brand they HAVE bought
    ("customers who bought what you bought also bought...").

    Plan: one incidence scan feeds both the similarity model and the
    per-customer bought sets; the |V|^2-bounded similarity table
    BROADCASTS into the sampled customers' bought sets (modulo pushdown
    prunes the probe side before the join); unbought filtering is a
    LEFT ANTI join back to the same incidence; the per-customer window
    ranks <= |V| candidate rows. max() over pre-rounded cosines is
    order-independent, so scores are hash-stable.

    100-TB shape: the model side stays vocabulary-bounded regardless of
    corpus; the per-customer side shuffles once on ck. The sample slice
    is the audit view a daily pipeline materializes — removing the
    modulo serves every customer and only grows the ck shuffle.

    r16: incidence and similarity come from the shared persisted views
    (``cb_incidence_view`` / ``brand_sim_view``) instead of per-query
    rebuilds — same plan below the view boundary, one family build."""
    cb = cb_incidence_view(spark, sf_dir)
    sim = brand_sim_view(spark, sf_dir).select("brand_a", "brand_b", "cosine")
    sampled = cb.where(F.col("ck") % CAND_SAMPLE_MOD == 0)
    scored = (
        sampled.withColumnRenamed("brand", "brand_a")
        .join(F.broadcast(sim), "brand_a")
        .select("ck", F.col("brand_b").alias("brand"), "cosine")
    )
    unbought = scored.join(
        sampled.withColumnRenamed("brand", "brand"),
        ["ck", "brand"],
        "left_anti",
    )
    cand = unbought.groupBy("ck", "brand").agg(F.max("cosine").alias("score"))
    cw = Window.partitionBy("ck").orderBy(F.desc("score"), F.asc("brand"))
    return (
        cand.select(
            "ck", "brand", "score", F.row_number().over(cw).cast("int").alias("rnk")
        )
        .where(F.col("rnk") <= CAND_TOP)
    )


# --- Ranking-quality eval: temporal-split NDCG@5 -----------------------------

NDCG_CUTOFF = "2000-01-01"   # train on orders before, evaluate on after
NDCG_SAMPLE_MOD = 13         # eval slice: customers with ck % 13 == 0
NDCG_K = 5

# 1/log2(r+1) for r=1..5 and their prefix sums, frozen as 12dp decimal
# literals so BOTH engines sum identical exact decimals (order-independent
# DCG — no engine evaluates a transcendental at query time).
NDCG_DISC = [
    "1.000000000000", "0.630929753571", "0.500000000000",
    "0.430676558073", "0.386852807235",
]
NDCG_CUM = [
    "1.000000000000", "1.630929753571", "2.130929753571",
    "2.561606311644", "2.948459118879",
]

_DISC_CASE = " ".join(
    f"WHEN {i + 1} THEN CAST({d} AS DECIMAL(18,12))"
    for i, d in enumerate(NDCG_DISC)
)
_CUM_CASE = " ".join(
    f"WHEN {i + 1} THEN CAST({c} AS DECIMAL(18,12))"
    for i, c in enumerate(NDCG_CUM)
)


@query(
    "ndcg_eval",
    oracle=f"""
WITH base AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand,
                    CAST(o.o_orderdate AS DATE) AS dt
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), tr AS (
    SELECT DISTINCT ck, brand FROM base WHERE dt < DATE '{NDCG_CUTOFF}'
), te AS (
    SELECT DISTINCT ck, brand FROM base WHERE dt >= DATE '{NDCG_CUTOFF}'
), new_rel AS (
    SELECT te.ck, te.brand FROM te
    WHERE NOT EXISTS (SELECT 1 FROM tr
                      WHERE tr.ck = te.ck AND tr.brand = te.brand)
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS both_cnt
    FROM tr a JOIN tr b ON a.ck = b.ck AND a.brand <> b.brand
    GROUP BY 1, 2
), sim AS (
    SELECT pairs.brand_a, pairs.brand_b,
           ROUND(both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c), 8) AS cosine
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb2 ON cb2.brand = pairs.brand_b
), cand AS (
    SELECT tr.ck, s.brand_b AS brand, MAX(s.cosine) AS score
    FROM tr JOIN sim s ON s.brand_a = tr.brand
    WHERE tr.ck % {NDCG_SAMPLE_MOD} = 0
      AND NOT EXISTS (SELECT 1 FROM tr t2
                      WHERE t2.ck = tr.ck AND t2.brand = s.brand_b)
    GROUP BY 1, 2
), ranked AS (
    SELECT ck, brand,
           ROW_NUMBER() OVER (PARTITION BY ck ORDER BY score DESC, brand) AS rnk
    FROM cand
), hits AS (
    SELECT r.ck, r.rnk,
           CASE WHEN nr.brand IS NOT NULL THEN 1 ELSE 0 END AS rel
    FROM ranked r
    LEFT JOIN new_rel nr ON nr.ck = r.ck AND nr.brand = r.brand
    WHERE r.rnk <= {NDCG_K}
), dcg AS (
    SELECT ck, SUM(rel * CASE rnk {_DISC_CASE} END) AS dcg_d,
           CAST(SUM(rel) AS BIGINT) AS hits_at_k
    FROM hits GROUP BY 1
), nrel AS (
    SELECT ck, CAST(COUNT(*) AS BIGINT) AS n_rel FROM new_rel GROUP BY 1
)
SELECT d.ck, n.n_rel, d.hits_at_k,
       ROUND(CAST(d.dcg_d AS DOUBLE), 8) AS dcg,
       ROUND(CAST(d.dcg_d AS DOUBLE)
             / CAST(CASE LEAST(n.n_rel, {NDCG_K}) {_CUM_CASE} END AS DOUBLE),
             8) AS ndcg
FROM dcg d JOIN nrel n ON n.ck = d.ck
""",
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-split ranking eval for the item-item recommender:
    train the cosine model on orders BEFORE {NDCG_CUTOFF}, recommend
    top-{NDCG_K} unbought brands per sampled customer, and score against
    the brands the customer ACTUALLY bought for the first time on/after
    the cutoff — per-customer NDCG@{NDCG_K} with hits@{NDCG_K} and the
    relevant-set size. The point-in-time split (model never sees the eval
    period) is the leakage discipline every production reco eval needs;
    ``ann_recall_eval`` is the geometric sibling, this is the behavioral
    one.

    Determinism: DCG discounts 1/log2(r+1) are FROZEN 12dp decimal
    literals (module constants) so no engine evaluates a transcendental;
    per-customer DCG is a sum of <= {NDCG_K} exact decimals and IDCG a
    single prefix-sum literal — both order-independent; the final
    division is one IEEE op.

    100-TB shape: the model side is the vocabulary-bounded
    ``item_item_cosine`` plan on the train slice; relevance sets shuffle
    once on ck; every per-customer structure (candidates, hits) is
    <= |V| rows. The cutoff filter is a scan-level pushdown."""
    ranked, new_rel = _temporal_ranked(spark, sf_dir)
    hits = ranked.join(
        new_rel.withColumn("rel_hit", F.lit(1)), ["ck", "brand"], "left"
    ).select("ck", "rnk", F.coalesce(F.col("rel_hit"), F.lit(0)).alias("rel"))
    disc = F.expr(f"CASE rnk {_DISC_CASE} END")
    dcg = hits.groupBy("ck").agg(
        F.sum(F.col("rel") * disc).alias("dcg_d"),
        F.sum("rel").cast("long").alias("hits_at_k"),
    )
    nrel = new_rel.groupBy("ck").agg(F.count("*").cast("long").alias("n_rel"))
    idcg = F.expr(f"CASE LEAST(n_rel, {NDCG_K}) {_CUM_CASE} END")
    return dcg.join(nrel, "ck").select(
        "ck",
        "n_rel",
        "hits_at_k",
        F.round(F.col("dcg_d").cast("double"), 8).alias("dcg"),
        F.round(F.col("dcg_d").cast("double") / idcg.cast("double"), 8).alias(
            "ndcg"
        ),
    )


def _temporal_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy (ck, brand, dt) incidence plan for the temporal-split rig —
    memoized (r16) so the two consumers and both slices below share one
    built tree; NOT persisted (each slice scans with its own date
    pushdown)."""
    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select(
                F.col("o_custkey").alias("ck"),
                F.col("p_brand").alias("brand"),
                F.col("o_orderdate").cast("date").alias("dt"),
            )
        )

    return shared_view(spark, "temporal_base", sf_dir, build)


def _temporal_tr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-cutoff (ck, brand) train incidence, a persisted shared view
    (r16): referenced four times inside each consumer's
    plan and by both eval queries."""
    def build() -> DataFrame:
        cutoff = F.lit(NDCG_CUTOFF).cast("date")
        return (
            _temporal_base(spark, sf_dir)
            .where(F.col("dt") < cutoff)
            .select("ck", "brand")
            .distinct()
        )

    return shared_view(
        spark, "temporal_tr", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


def _temporal_new_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-time post-cutoff relevance set (ck, brand), a persisted
    shared view (r16)."""
    def build() -> DataFrame:
        cutoff = F.lit(NDCG_CUTOFF).cast("date")
        te = (
            _temporal_base(spark, sf_dir)
            .where(F.col("dt") >= cutoff)
            .select("ck", "brand")
            .distinct()
        )
        return te.join(_temporal_tr(spark, sf_dir), ["ck", "brand"], "left_anti")

    return shared_view(
        spark, "temporal_new_rel", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


def _temporal_ranked(spark: SparkSession, sf_dir: str):
    """Shared temporal-split recommender eval rig (``ndcg_eval`` /
    ``map_mrr_eval``): cosine model trained strictly before {NDCG_CUTOFF},
    top-{NDCG_K} unbought candidates ranked per sampled customer. Returns
    ``(ranked, new_rel)`` — the rank list (ck, brand, rnk<= {NDCG_K}) and
    the first-time post-cutoff relevance set (ck, brand).

    r16: the rig's three reused tables (tr, new_rel, the rank list) are
    memoized + persisted shared views, so the train-slice similarity
    model and the candidate ranking build ONCE per session instead of
    once per eval query (guide §2.4/§5; the ``brand_sim_view``
    treatment on the date-filtered slice)."""
    def build_ranked() -> DataFrame:
        tr = _temporal_tr(spark, sf_dir)
        bc = tr.groupBy("brand").agg(F.count("*").cast("long").alias("c"))
        b2 = tr.select("ck", F.col("brand").alias("brand_b"))
        pairs = (
            tr.select("ck", F.col("brand").alias("brand_a"))
            .join(b2, "ck")
            .where(F.col("brand_a") != F.col("brand_b"))
            .groupBy("brand_a", "brand_b")
            .agg(F.count("*").cast("long").alias("both_cnt"))
        )
        ca = bc.select(F.col("brand").alias("brand_a"), F.col("c").alias("c_a"))
        cb2 = bc.select(F.col("brand").alias("brand_b"), F.col("c").alias("c_b"))
        sim = (
            pairs.join(F.broadcast(ca), "brand_a")
            .join(F.broadcast(cb2), "brand_b")
            .select(
                "brand_a",
                "brand_b",
                F.round(
                    F.col("both_cnt")
                    / F.sqrt(F.col("c_a").cast("double") * F.col("c_b")),
                    8,
                ).alias("cosine"),
            )
        )
        sampled = tr.where(F.col("ck") % NDCG_SAMPLE_MOD == 0)
        scored = (
            sampled.withColumnRenamed("brand", "brand_a")
            .join(F.broadcast(sim), "brand_a")
            .select("ck", F.col("brand_b").alias("brand"), "cosine")
        )
        cand = (
            scored.join(sampled, ["ck", "brand"], "left_anti")
            .groupBy("ck", "brand")
            .agg(F.max("cosine").alias("score"))
        )
        cw = Window.partitionBy("ck").orderBy(F.desc("score"), F.asc("brand"))
        return cand.select(
            "ck", "brand", F.row_number().over(cw).alias("rnk")
        ).where(F.col("rnk") <= NDCG_K)

    ranked = shared_view(
        spark, "temporal_ranked", sf_dir, build_ranked, StorageLevel.MEMORY_AND_DISK_DESER
    )
    return ranked, _temporal_new_rel(spark, sf_dir)


# --- Recommendation exposure metrics: catalog coverage + Gini ----------------


@query(
    "reco_coverage_gini",
    oracle=f"""
WITH cb AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM cb GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS both_cnt
    FROM cb a JOIN cb b ON a.ck = b.ck AND a.brand <> b.brand
    GROUP BY 1, 2
), sim AS (
    SELECT pairs.brand_a, pairs.brand_b,
           ROUND(both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c), 8) AS cosine
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb2 ON cb2.brand = pairs.brand_b
), cand AS (
    SELECT cb.ck, s.brand_b AS brand, MAX(s.cosine) AS score
    FROM cb JOIN sim s ON s.brand_a = cb.brand
    WHERE NOT EXISTS (SELECT 1 FROM cb b2
                      WHERE b2.ck = cb.ck AND b2.brand = s.brand_b)
    GROUP BY 1, 2
), ranked AS (
    SELECT ck, brand,
           ROW_NUMBER() OVER (PARTITION BY ck ORDER BY score DESC, brand) AS rnk
    FROM cand
), expo AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c
    FROM ranked WHERE rnk <= {CAND_TOP} GROUP BY 1
), allb AS (
    SELECT DISTINCT p_brand AS brand FROM part
), x AS (
    SELECT a.brand, COALESCE(e.c, 0) AS c
    FROM allb a LEFT JOIN expo e USING (brand)
), ord AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c, brand) AS i FROM x
), g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
           CAST(SUM(c) AS BIGINT) AS total_recs,
           CAST(SUM(i * c) AS BIGINT) AS sic,
           CAST(COUNT(*) FILTER (WHERE c > 0) AS BIGINT) AS brands_recommended
    FROM ord
)
SELECT n_brands, brands_recommended, total_recs,
       ROUND(brands_recommended / CAST(n_brands AS DOUBLE), 8)
           AS catalog_coverage,
       ROUND((2.0 * sic - (n_brands + 1) * total_recs)
             / (CAST(n_brands AS DOUBLE) * total_recs), 8) AS gini_exposure
FROM g
""",
)
def q_reco_coverage_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation-exposure audit over the FULL serving surface (every
    customer's top-{CAND_TOP} ``reco_candidates`` list, no sample):
    catalog coverage (share of brands that appear in ANY list) and the
    Gini concentration of exposure counts — the popularity-bias /
    filter-bubble metrics a reco platform tracks next to accuracy
    (``ndcg_eval``); zero-exposure brands are counted in the Gini so a
    recommender that only ever surfaces 3 brands scores near 1.

    The Gini is the exact rank formula (2*sum(i*x_i) - (n+1)*sum x) /
    (n*sum x) over exposure counts sorted (count, brand) — int64-exact
    up to one final division. The ranking window runs over |V| rows
    (vocabulary-bounded, the bpe_merge_pairs precedent), never data.

    100-TB shape: candidate generation is the ``reco_candidates`` plan
    minus the sample pushdown — the ck shuffle carries every customer
    (the serving fan-out is the product requirement); everything after
    the per-brand exposure agg is |V|-sized.

    r16: incidence and similarity come from the shared persisted views
    (``cb_incidence_view`` / ``brand_sim_view``); part is still loaded
    for the catalog dimension ``allb``."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = cb_incidence_view(spark, sf_dir)
    sim = brand_sim_view(spark, sf_dir).select("brand_a", "brand_b", "cosine")
    scored = (
        cb.withColumnRenamed("brand", "brand_a")
        .join(F.broadcast(sim), "brand_a")
        .select("ck", F.col("brand_b").alias("brand"), "cosine")
    )
    cand = (
        scored.join(cb, ["ck", "brand"], "left_anti")
        .groupBy("ck", "brand")
        .agg(F.max("cosine").alias("score"))
    )
    cw = Window.partitionBy("ck").orderBy(F.desc("score"), F.asc("brand"))
    expo = (
        cand.select("brand", F.row_number().over(cw).alias("rnk"))
        .where(F.col("rnk") <= CAND_TOP)
        .groupBy("brand")
        .agg(F.count("*").cast("long").alias("c"))
    )
    allb = p.select(F.col("p_brand").alias("brand")).distinct()
    x = allb.join(expo, "brand", "left").select(
        "brand", F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c")
    )
    iw = bounded_window(
        "c", "brand",
        bound="Gini index positions over the brand vocabulary: <= |V| rows",
        queries=("reco_coverage_gini",),
    )
    ordd = x.select("c", F.row_number().over(iw).cast("long").alias("i"))
    g = ordd.agg(
        F.count("*").cast("long").alias("n_brands"),
        F.sum("c").cast("long").alias("total_recs"),
        F.sum(F.col("i") * F.col("c")).cast("long").alias("sic"),
        F.count(F.when(F.col("c") > 0, 1)).cast("long").alias("brands_recommended"),
    )
    return g.select(
        "n_brands",
        "brands_recommended",
        "total_recs",
        F.round(
            F.col("brands_recommended") / F.col("n_brands").cast("double"), 8
        ).alias("catalog_coverage"),
        F.round(
            (F.lit(2.0) * F.col("sic") - (F.col("n_brands") + 1) * F.col("total_recs"))
            / (F.col("n_brands").cast("double") * F.col("total_recs")),
            8,
        ).alias("gini_exposure"),
    )


# --- MMR diversified rerank (k=3 unrolled greedy) ----------------------------

MMR_LAMBDA = 0.7   # relevance weight; 1-MMR_LAMBDA penalizes similarity
# The MMR objective is evaluated in EXACT decimal arithmetic with integer
# weights (10*lambda, 10*(1-lambda)) over decimal(12,8)-cast operands: a
# float 0.7*s - 0.3*c rounded at 8dp can land ON a rounding boundary where
# Spark's and DuckDB's double-ROUND disagree by 1 ulp of the 8th decimal
# (observed at sf0.001) — decimal selection removes the boundary entirely.
MMR_NUM = 7           # 10 * lambda
MMR_DEN_MINUS = 3     # 10 * (1 - lambda)


@query(
    "mmr_rerank",
    oracle=f"""
WITH cb AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM cb GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS both_cnt
    FROM cb a JOIN cb b ON a.ck = b.ck AND a.brand <> b.brand
    GROUP BY 1, 2
), sim AS (
    SELECT pairs.brand_a, pairs.brand_b,
           ROUND(both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c), 8) AS cosine
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb2 ON cb2.brand = pairs.brand_b
), cand AS (
    SELECT cb.ck, s.brand_b AS brand, MAX(s.cosine) AS score
    FROM cb JOIN sim s ON s.brand_a = cb.brand
    WHERE cb.ck % {CAND_SAMPLE_MOD} = 0
      AND NOT EXISTS (SELECT 1 FROM cb b2
                      WHERE b2.ck = cb.ck AND b2.brand = s.brand_b)
    GROUP BY 1, 2
), s1 AS (
    SELECT ck, brand AS b1, ROUND(score, 8) AS v1 FROM (
        SELECT ck, brand, score,
               ROW_NUMBER() OVER (PARTITION BY ck
                                  ORDER BY score DESC, brand) AS rn
        FROM cand) WHERE rn = 1
), m2 AS (
    SELECT c.ck, c.brand,
           {MMR_NUM} * CAST(c.score AS DECIMAL(12,8))
               - {MMR_DEN_MINUS} * CAST(COALESCE(x.cosine, 0.0)
                                        AS DECIMAL(12,8)) AS mmr
    FROM cand c JOIN s1 ON s1.ck = c.ck AND c.brand <> s1.b1
    LEFT JOIN sim x ON x.brand_a = c.brand AND x.brand_b = s1.b1
), s2 AS (
    SELECT ck, brand AS b2, CAST(mmr AS DOUBLE) / 10 AS v2 FROM (
        SELECT ck, brand, mmr,
               ROW_NUMBER() OVER (PARTITION BY ck
                                  ORDER BY mmr DESC, brand) AS rn
        FROM m2) WHERE rn = 1
), m3 AS (
    SELECT c.ck, c.brand,
           {MMR_NUM} * CAST(c.score AS DECIMAL(12,8))
               - {MMR_DEN_MINUS} * CAST(GREATEST(COALESCE(x1.cosine, 0.0),
                                                 COALESCE(x2.cosine, 0.0))
                                        AS DECIMAL(12,8)) AS mmr
    FROM cand c
    JOIN s1 ON s1.ck = c.ck
    JOIN s2 ON s2.ck = c.ck
    LEFT JOIN sim x1 ON x1.brand_a = c.brand AND x1.brand_b = s1.b1
    LEFT JOIN sim x2 ON x2.brand_a = c.brand AND x2.brand_b = s2.b2
    WHERE c.brand <> s1.b1 AND c.brand <> s2.b2
), s3 AS (
    SELECT ck, brand AS b3, CAST(mmr AS DOUBLE) / 10 AS v3 FROM (
        SELECT ck, brand, mmr,
               ROW_NUMBER() OVER (PARTITION BY ck
                                  ORDER BY mmr DESC, brand) AS rn
        FROM m3) WHERE rn = 1
)
SELECT s1.ck, b1, v1, b2, v2, b3, v3
FROM s1 JOIN s2 ON s2.ck = s1.ck JOIN s3 ON s3.ck = s1.ck
""",
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) of
    the ``reco_candidates`` slate: greedily pick 3 brands maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-picked —
    the diversity stage between candidate generation and serving
    (``reco_coverage_gini`` measures why you want it). The greedy loop
    is UNROLLED into three explicit plan stages (k is a product
    constant): each step is a per-customer window argmax plus a
    broadcast |V|^2 sim lookup — no iteration state, no driver loop,
    and the whole slate stays one declarative plan. Customers with a
    full 3-slate are emitted (inner-join semantics, both engines).

    Determinism: relevance and sim are the pre-rounded cosine doubles;
    each step's MMR value is rounded at 8dp BEFORE its ranking window
    (ties -> brand), so selection is engine-exact at every step.

    100-TB shape: candidates shuffle once on ck; every step's window is
    per-customer (<= |V| rows) and the sim table broadcasts.

    r16: incidence and similarity come from the shared persisted views
    (``cb_incidence_view`` / ``brand_sim_view``) — the view persist
    replaces this query's former private sim persist."""
    cb = cb_incidence_view(spark, sf_dir)
    sim = brand_sim_view(spark, sf_dir).select("brand_a", "brand_b", "cosine")
    sampled = cb.where(F.col("ck") % CAND_SAMPLE_MOD == 0)
    cand = (
        sampled.withColumnRenamed("brand", "brand_a")
        .join(F.broadcast(sim), "brand_a")
        .select("ck", F.col("brand_b").alias("brand"), "cosine")
        .join(sampled, ["ck", "brand"], "left_anti")
        .groupBy("ck", "brand")
        .agg(F.max("cosine").alias("score"))
        .persist()
    )
    w = Window.partitionBy("ck")

    def top1(df: DataFrame, val: str, bout: str, vout: str) -> DataFrame:
        rn = F.row_number().over(w.orderBy(F.desc(val), F.asc("brand")))
        return (
            df.withColumn("_rn", rn)
            .where(F.col("_rn") == 1)
            .select("ck", F.col("brand").alias(bout), F.col(val).alias(vout))
        )

    s1 = top1(
        cand.withColumn("v", F.round(F.col("score"), 8)), "v", "b1", "v1"
    )
    simx = lambda bcol, alias: (  # noqa: E731
        sim.select(
            F.col("brand_a").alias("brand"),
            F.col("brand_b").alias(bcol),
            F.col("cosine").alias(alias),
        )
    )
    m2 = (
        cand.join(s1, "ck")
        .where(F.col("brand") != F.col("b1"))
        .join(F.broadcast(simx("b1", "x1")), ["brand", "b1"], "left")
        .withColumn(
            "mmr",
            F.lit(MMR_NUM) * F.col("score").cast("decimal(12,8)")
            - F.lit(MMR_DEN_MINUS)
            * F.coalesce(F.col("x1"), F.lit(0.0)).cast("decimal(12,8)"),
        )
    )
    s2 = top1(m2, "mmr", "b2", "v2").withColumn(
        "v2", F.col("v2").cast("double") / 10
    )
    m3 = (
        cand.join(s1, "ck")
        .join(s2, "ck")
        .where((F.col("brand") != F.col("b1")) & (F.col("brand") != F.col("b2")))
        .join(F.broadcast(simx("b1", "x1")), ["brand", "b1"], "left")
        .join(F.broadcast(simx("b2", "x2")), ["brand", "b2"], "left")
        .withColumn(
            "mmr",
            F.lit(MMR_NUM) * F.col("score").cast("decimal(12,8)")
            - F.lit(MMR_DEN_MINUS)
            * F.greatest(
                F.coalesce(F.col("x1"), F.lit(0.0)),
                F.coalesce(F.col("x2"), F.lit(0.0)),
            ).cast("decimal(12,8)"),
        )
    )
    s3 = top1(m3, "mmr", "b3", "v3").withColumn(
        "v3", F.col("v3").cast("double") / 10
    )
    return (
        s1.join(s2, "ck")
        .join(s3, "ck")
        .select("ck", "b1", "v1", "b2", "v2", "b3", "v3")
    )


# --- Model-based CF: one closed-form ALS item-factor update ------------------

ALS_SEED1, ALS_SEED2 = "als1:", "als2:"
ALS_REG = 0.1     # ridge term lambda
ALS_U_DP = 12     # user-factor rounding (md5-dyadic base)


@query(
    "als_item_step",
    oracle=f"""
WITH cb AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), uf AS (
    SELECT DISTINCT ck,
           ROUND((('0x' || substr(md5('{ALS_SEED1}' || ck), 1, 13))::BIGINT
                  + 1) / CAST(POW(2, 52) AS DOUBLE), {ALS_U_DP}) AS u1,
           ROUND((('0x' || substr(md5('{ALS_SEED2}' || ck), 1, 13))::BIGINT
                  + 1) / CAST(POW(2, 52) AS DOUBLE), {ALS_U_DP}) AS u2
    FROM cb
), s AS (
    SELECT cb.brand,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           SUM(CAST(ROUND(u1 * u1, 12) AS DECIMAL(28,12))) AS a11,
           SUM(CAST(ROUND(u1 * u2, 12) AS DECIMAL(28,12))) AS a12,
           SUM(CAST(ROUND(u2 * u2, 12) AS DECIMAL(28,12))) AS a22,
           SUM(CAST(u1 AS DECIMAL(28,12))) AS b1,
           SUM(CAST(u2 AS DECIMAL(28,12))) AS b2
    FROM cb JOIN uf ON uf.ck = cb.ck
    GROUP BY 1
), f AS (
    SELECT brand, n_users,
           CAST(a11 AS DOUBLE) + {ALS_REG} AS p11,
           CAST(a12 AS DOUBLE) AS p12,
           CAST(a22 AS DOUBLE) + {ALS_REG} AS p22,
           CAST(b1 AS DOUBLE) AS q1, CAST(b2 AS DOUBLE) AS q2
    FROM s
)
SELECT brand, n_users,
       ROUND((p22 * q1 - p12 * q2) / (p11 * p22 - p12 * p12), 8) AS f1,
       ROUND((p11 * q2 - p12 * q1) / (p11 * p22 - p12 * p12), 8) AS f2
FROM f
""",
)
def q_als_item_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alternating-least-squares ITEM half-step (Hu/Koren/Volinsky-
    style implicit feedback, rank 2): holding user factors fixed, each
    item's new factor solves the 2x2 ridge normal equations
    (sum u u^T + lambda I) f = sum u r over the users who bought it,
    in CLOSED FORM (Cramer's rule) — the model-based CF sibling of the
    memory-based ``item_item_cosine``. User factors are frozen
    md5-dyadic uniforms (a production job reads the previous
    half-step's table; the algebra, shuffles, and solve are identical).

    Determinism: the per-item Gram/moment sums are DECIMAL(28,12) sums
    of per-row rounded products (order-independent); the 2x2 solve is a
    fixed double expression on those exact sums; ROUND 8 on output.

    100-TB shape: the interaction scan joins a broadcast-or-sharded user
    factor table, partial-aggregates the 5 moment cells per item
    map-side, and shuffles item-grain rows only — exactly the real ALS
    dataflow (per-item solves are O(rank^3) driver-free map work).

    r16: the incidence comes from the shared persisted
    ``cb_incidence_view`` (one family build; this query previously
    rebuilt it unpersisted)."""
    cb = cb_incidence_view(spark, sf_dir)

    def dyadic(seed: str) -> F.Column:
        return F.round(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(seed), F.col("ck").cast("string"))),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long")
                + 1
            )
            / F.lit(float(2**52)),
            ALS_U_DP,
        )

    uf = cb.select("ck").distinct().select(
        "ck", dyadic(ALS_SEED1).alias("u1"), dyadic(ALS_SEED2).alias("u2")
    )
    dec = "decimal(28,12)"
    s = (
        cb.join(uf, "ck")
        .groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.round(F.col("u1") * F.col("u1"), 12).cast(dec)).alias("a11"),
            F.sum(F.round(F.col("u1") * F.col("u2"), 12).cast(dec)).alias("a12"),
            F.sum(F.round(F.col("u2") * F.col("u2"), 12).cast(dec)).alias("a22"),
            F.sum(F.col("u1").cast(dec)).alias("b1"),
            F.sum(F.col("u2").cast(dec)).alias("b2"),
        )
    )
    p11 = F.col("a11").cast("double") + F.lit(ALS_REG)
    p12 = F.col("a12").cast("double")
    p22 = F.col("a22").cast("double") + F.lit(ALS_REG)
    q1, q2 = F.col("b1").cast("double"), F.col("b2").cast("double")
    det = p11 * p22 - p12 * p12
    return s.select(
        "brand",
        "n_users",
        F.round((p22 * q1 - p12 * q2) / det, 8).alias("f1"),
        F.round((p11 * q2 - p12 * q1) / det, 8).alias("f2"),
    )


# --- MAP / MRR / HitRate ranking eval (ndcg_eval's order-sensitive sibling) --


@query(
    "map_mrr_eval",
    oracle=f"""
WITH base AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand,
                    CAST(o.o_orderdate AS DATE) AS dt
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), tr AS (
    SELECT DISTINCT ck, brand FROM base WHERE dt < DATE '{NDCG_CUTOFF}'
), te AS (
    SELECT DISTINCT ck, brand FROM base WHERE dt >= DATE '{NDCG_CUTOFF}'
), new_rel AS (
    SELECT te.ck, te.brand FROM te
    WHERE NOT EXISTS (SELECT 1 FROM tr
                      WHERE tr.ck = te.ck AND tr.brand = te.brand)
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1
), pairs AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS both_cnt
    FROM tr a JOIN tr b ON a.ck = b.ck AND a.brand <> b.brand
    GROUP BY 1, 2
), sim AS (
    SELECT pairs.brand_a, pairs.brand_b,
           ROUND(both_cnt / sqrt(CAST(ca.c AS DOUBLE) * cb2.c), 8) AS cosine
    FROM pairs
    JOIN bc ca ON ca.brand = pairs.brand_a
    JOIN bc cb2 ON cb2.brand = pairs.brand_b
), cand AS (
    SELECT tr.ck, s.brand_b AS brand, MAX(s.cosine) AS score
    FROM tr JOIN sim s ON s.brand_a = tr.brand
    WHERE tr.ck % {NDCG_SAMPLE_MOD} = 0
      AND NOT EXISTS (SELECT 1 FROM tr t2
                      WHERE t2.ck = tr.ck AND t2.brand = s.brand_b)
    GROUP BY 1, 2
), ranked AS (
    SELECT ck, brand,
           ROW_NUMBER() OVER (PARTITION BY ck ORDER BY score DESC, brand) AS rnk
    FROM cand
), hits AS (
    SELECT r.ck, r.rnk,
           CASE WHEN nr.brand IS NOT NULL THEN 1 ELSE 0 END AS rel
    FROM ranked r
    LEFT JOIN new_rel nr ON nr.ck = r.ck AND nr.brand = r.brand
    WHERE r.rnk <= {NDCG_K}
), prec AS (
    SELECT ck, rnk, rel,
           SUM(rel) OVER (PARTITION BY ck ORDER BY rnk) AS cum_hits
    FROM hits
), m AS (
    SELECT ck,
           CAST(SUM(rel) AS BIGINT) AS hits_at_k,
           MIN(CASE WHEN rel = 1 THEN rnk END) AS first_hit,
           SUM(CAST(ROUND(rel * cum_hits / CAST(rnk AS DOUBLE), 12)
                    AS DECIMAL(18,12))) AS ap_num
    FROM prec GROUP BY 1
), nrel AS (
    SELECT ck, CAST(COUNT(*) AS BIGINT) AS n_rel FROM new_rel GROUP BY 1
)
SELECT m.ck, n.n_rel, m.hits_at_k,
       CASE WHEN m.first_hit IS NULL THEN 0.0
            ELSE ROUND(1.0 / m.first_hit, 8) END AS rr,
       ROUND(CAST(m.ap_num AS DOUBLE) / LEAST(n.n_rel, {NDCG_K}), 8) AS ap
FROM m JOIN nrel n ON n.ck = m.ck
""",
)
def q_map_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer MRR / AP@{NDCG_K} / hits@{NDCG_K} over the SAME
    temporal-split rig as ``ndcg_eval`` (cosine model trained strictly
    before {NDCG_CUTOFF}, scored on first-time post-cutoff purchases):
    the order-sensitive eval trio a ranking launch review reads next to
    NDCG — reciprocal rank of the FIRST hit, average precision over hit
    positions, raw hit count.

    Determinism: ranks and cumulative hit counts are exact integers;
    each AP term rel*(cum_hits/rnk) is ONE IEEE division rounded to a
    12dp DECIMAL before the per-customer decimal sum (order-independent,
    the ndcg_eval discount discipline); RR is one division, ROUND 8.

    100-TB shape: identical to ``ndcg_eval`` — vocabulary-bounded model,
    one ck shuffle for relevance, <= |V| candidate rows per customer;
    the AP window runs inside the <= {NDCG_K}-row per-customer rank list."""
    ranked, new_rel = _temporal_ranked(spark, sf_dir)
    hits = ranked.join(
        new_rel.withColumn("rel_hit", F.lit(1)), ["ck", "brand"], "left"
    ).select("ck", "rnk", F.coalesce(F.col("rel_hit"), F.lit(0)).alias("rel"))
    cumw = Window.partitionBy("ck").orderBy("rnk")
    prec = hits.withColumn("cum_hits", F.sum("rel").over(cumw))
    m = prec.groupBy("ck").agg(
        F.sum("rel").cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_hit"),
        F.sum(
            F.round(
                F.col("rel") * F.col("cum_hits") / F.col("rnk").cast("double"),
                12,
            ).cast("decimal(18,12)")
        ).alias("ap_num"),
    )
    nrel = new_rel.groupBy("ck").agg(F.count("*").cast("long").alias("n_rel"))
    return m.join(nrel, "ck").select(
        "ck",
        "n_rel",
        "hits_at_k",
        F.when(F.col("first_hit").isNull(), F.lit(0.0))
        .otherwise(F.round(F.lit(1.0) / F.col("first_hit"), 8))
        .alias("rr"),
        F.round(
            F.col("ap_num").cast("double")
            / F.least(F.col("n_rel"), F.lit(NDCG_K)),
            8,
        ).alias("ap"),
    )


# --- Deterministic negative sampling (training-pair generation) --------------

NEG_SEED = "neg7:"   # hash-stream namespace for the sampling draw
NEG_K = 3            # negatives per customer


@query(
    "negative_sampling",
    oracle=f"""
WITH pos AS (
    SELECT DISTINCT o.o_custkey AS ck, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), cks AS (
    SELECT DISTINCT ck FROM pos
), brands AS (
    SELECT DISTINCT p_brand AS brand FROM part
), cand AS (
    SELECT c.ck, b.brand,
           md5('{NEG_SEED}' || CAST(c.ck AS VARCHAR) || ':' || b.brand) AS hk
    FROM cks c CROSS JOIN brands b
    WHERE NOT EXISTS (SELECT 1 FROM pos
                      WHERE pos.ck = c.ck AND pos.brand = b.brand)
), rk AS (
    SELECT ck, brand,
           ROW_NUMBER() OVER (PARTITION BY ck ORDER BY hk, brand) AS neg_rank
    FROM cand
)
SELECT ck, brand, CAST(neg_rank AS INTEGER) AS neg_rank
FROM rk WHERE neg_rank <= {NEG_K}
""",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform negative sampling for implicit-feedback training pairs
    (the BPR / sampled-softmax data-gen step): for every customer with
    purchase history, draw {NEG_K} brands they have NEVER bought,
    uniformly at random but DETERMINISTICALLY — the draw order is the
    md5('{NEG_SEED}' || ck || ':' || brand) hash stream, so a re-run (or
    the DuckDB oracle) reproduces the exact sample without any RNG state.

    100-TB shape: the brand catalog broadcasts (vocabulary-bounded dim);
    candidate fan-out is |V| rows per customer, pruned by a LEFT ANTI
    join against the (ck, brand) incidence before the per-customer
    window, which then runs over <= |V| rows — no global sort, no skew
    (md5 keys are uniform). For an unbounded SKU catalog you would first
    hash-bucket the catalog and draw from the customer's bucket
    (documented, as with ``item_item_cosine``'s vocabulary note).

    r16: the positive incidence comes from the shared persisted
    ``cb_incidence_view`` (one family build)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pos = cb_incidence_view(spark, sf_dir)
    cks = pos.select("ck").distinct()
    brands = p.select(F.col("p_brand").alias("brand")).distinct()
    cand = (
        cks.crossJoin(F.broadcast(brands))
        .join(pos, ["ck", "brand"], "left_anti")
        .withColumn(
            "hk",
            F.md5(
                F.concat(
                    F.lit(NEG_SEED),
                    F.col("ck").cast("string"),
                    F.lit(":"),
                    F.col("brand"),
                )
            ),
        )
    )
    w = Window.partitionBy("ck").orderBy("hk", "brand")
    return (
        cand.select("ck", "brand", F.row_number().over(w).alias("neg_rank"))
        .where(F.col("neg_rank") <= NEG_K)
        .select("ck", "brand", F.col("neg_rank").cast("int").alias("neg_rank"))
    )


# --- Off-policy bandit evaluation by replay ----------------------------------

BANDIT_A0 = 500_000   # Beta-like prior: 0.5 mean reward in 1e-6 units ...
BANDIT_B0 = 1         # ... over one pseudo-observation


@query(
    "bandit_replay_eval",
    oracle=f"""
WITH daily AS (
    SELECT event_type AS arm, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_d,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) * 1000000
                AS BIGINT) AS u_d
    FROM events GROUP BY 1, 2
), grid AS (
    SELECT a.arm, d.day, COALESCE(x.n_d, 0) AS n_d, COALESCE(x.u_d, 0) AS u_d
    FROM (SELECT DISTINCT arm FROM daily) a
    CROSS JOIN (SELECT DISTINCT day FROM daily) d
    LEFT JOIN daily x ON x.arm = a.arm AND x.day = d.day
), cum AS (
    SELECT arm, day, n_d, u_d,
           {BANDIT_A0} + COALESCE(SUM(u_d) OVER (PARTITION BY arm ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a,
           {BANDIT_B0} + COALESCE(SUM(n_d) OVER (PARTITION BY arm ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
    FROM grid
), chosen AS (
    SELECT i.day, i.arm, i.n_d, i.u_d
    FROM cum i JOIN cum j ON j.day = i.day AND j.arm <> i.arm
    GROUP BY 1, 2, 3, 4
    HAVING BOOL_AND(
        CAST(i.a AS DECIMAL(38,0)) * j.b > CAST(j.a AS DECIMAL(38,0)) * i.b
        OR (CAST(i.a AS DECIMAL(38,0)) * j.b = CAST(j.a AS DECIMAL(38,0)) * i.b
            AND i.arm < j.arm))
)
SELECT day, arm AS chosen_arm,
       n_d AS n_matched,
       CAST(u_d AS DOUBLE) / 1000000 AS matched_reward_sum,
       CASE WHEN n_d > 0
            THEN ROUND(CAST(u_d AS DOUBLE) / (n_d * 1000000), 6) END
           AS matched_reward_mean
FROM chosen
""",
)
def q_bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy REPLAY evaluation of a greedy-posterior bandit (Li et
    al., WSDM 2011): treat each event_type as an arm and each day as a
    decision round; the evaluated policy picks, per day, the arm with the
    highest smoothed posterior mean reward computed from STRICTLY EARLIER
    days (prior {BANDIT_A0}/1e6 over {BANDIT_B0} pseudo-obs), and the
    replay estimator scores it on the day's logged rewards for that arm
    alone — the standard unbiased offline protocol when the logged policy
    is arm-uniform.

    Engine-exact argmax: posterior means are RATIOS of exact integers
    (micro-unit decimal reward sums / counts), and the per-day argmax is
    decided by CROSS-MULTIPLYING — a_i*b_j > a_j*b_i in DECIMAL(38,0),
    ties broken by arm name — never by floating division, so Spark and
    DuckDB pick identical arms at any magnitude (the pmi_collocations
    rational-ranking argument). The one division in the output is
    exact-int / exact-int, rounded 6.

    Scale shape: raw events collapse to the (arm x day) grid in one
    map-combinable aggregate; every later step (running priors, K^2
    pairwise tournament, replay join) runs on that bounded grid
    (|arms| x |days| rows), broadcast throughout — the fact table is
    scanned exactly once."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("event_type").alias("arm"), F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.count("*").cast("long").alias("n_d"),
            (F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")) * 1_000_000)
            .cast("long")
            .alias("u_d"),
        )
    )
    arms = daily.select("arm").distinct()
    days = daily.select("day").distinct()
    grid = (
        arms.crossJoin(days)
        .join(daily, ["arm", "day"], "left")
        .select(
            "arm",
            "day",
            F.coalesce(F.col("n_d"), F.lit(0).cast("long")).alias("n_d"),
            F.coalesce(F.col("u_d"), F.lit(0).cast("long")).alias("u_d"),
        )
    )
    wprev = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "arm",
        "day",
        "n_d",
        "u_d",
        (F.lit(BANDIT_A0) + F.coalesce(F.sum("u_d").over(wprev), F.lit(0)))
        .cast("long")
        .alias("a"),
        (F.lit(BANDIT_B0) + F.coalesce(F.sum("n_d").over(wprev), F.lit(0)))
        .cast("long")
        .alias("b"),
    )
    i, j = cum.alias("i"), cum.alias("j")
    beat = (
        F.col("i.a").cast("decimal(38,0)") * F.col("j.b")
        > F.col("j.a").cast("decimal(38,0)") * F.col("i.b")
    ) | (
        (
            F.col("i.a").cast("decimal(38,0)") * F.col("j.b")
            == F.col("j.a").cast("decimal(38,0)") * F.col("i.b")
        )
        & (F.col("i.arm") < F.col("j.arm"))
    )
    chosen = (
        i.join(
            F.broadcast(j),
            (F.col("i.day") == F.col("j.day")) & (F.col("i.arm") != F.col("j.arm")),
        )
        .groupBy(
            F.col("i.day").alias("day"),
            F.col("i.arm").alias("arm"),
            F.col("i.n_d").alias("n_d"),
            F.col("i.u_d").alias("u_d"),
        )
        .agg(F.min(beat).alias("wins_all"))
        .where(F.col("wins_all"))
    )
    return chosen.select(
        "day",
        F.col("arm").alias("chosen_arm"),
        F.col("n_d").alias("n_matched"),
        (F.col("u_d").cast("double") / 1_000_000).alias("matched_reward_sum"),
        F.when(
            F.col("n_d") > 0,
            F.round(F.col("u_d").cast("double") / (F.col("n_d") * 1_000_000), 6),
        ).alias("matched_reward_mean"),
    )


# --- Stationary distribution of the purchase Markov chain --------------------

MARKOV_ITERS = 20


def _markov_oracle() -> str:
    body = """
ob AS (
    SELECT DISTINCT o.o_custkey AS ck, o.o_orderkey AS ok,
                    o.o_orderdate AS dt, p.p_brand AS brand
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), ordseq AS (
    SELECT ck, ok, DENSE_RANK() OVER (PARTITION BY ck ORDER BY dt, ok) AS rn
    FROM (SELECT DISTINCT ck, ok, dt FROM ob)
), tr0 AS (
    SELECT a.brand AS brand_from, b.brand AS brand_to,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ob a
    JOIN ordseq sa ON sa.ok = a.ok
    JOIN ordseq sb ON sb.ck = sa.ck AND sb.rn = sa.rn + 1
    JOIN ob b ON b.ok = sb.ok
    GROUP BY 1, 2
), states AS MATERIALIZED (SELECT DISTINCT brand_from AS brand FROM tr0),
tr AS MATERIALIZED (
    SELECT t.brand_from, t.brand_to, t.cnt,
           CAST(SUM(t.cnt) OVER (PARTITION BY t.brand_from) AS BIGINT) AS tot
    FROM tr0 t JOIN states s ON s.brand = t.brand_to
),
v0 AS MATERIALIZED (
    SELECT brand, CAST(1 AS DOUBLE) / (SELECT COUNT(*) FROM states) AS val
    FROM states
)"""
    for t in range(MARKOV_ITERS):
        body += f""",
v{t + 1} AS MATERIALIZED (
    SELECT tr.brand_to AS brand,
           list_sum(list(v.val * tr.cnt / tr.tot ORDER BY tr.brand_from)) AS val
    FROM tr JOIN v{t} v ON v.brand = tr.brand_from
    GROUP BY 1
)"""
    return (
        "WITH "
        + body
        + f"""
SELECT brand, ROUND(val, 8) AS pi
FROM v{MARKOV_ITERS}
"""
    )


@query("markov_stationary", oracle=_markov_oracle())
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the brand purchase chain — pi = pi.P by
    power iteration over ``brand_transition_matrix``'s row-stochastic
    matrix (restricted to states with outgoing mass so rows stay
    stochastic), {MARKOV_ITERS} iterations from uniform: the long-run
    brand visit share that PageRank generalizes (pagerank_bipartite is
    the damped teleport sibling; this is the raw-chain limit).

    Engine-exact floats WITHOUT rounding between iterations: each new
    component is a SEQUENTIAL LEFT FOLD of its terms ordered by source
    brand — Spark folds the brand_from-sorted entry list with the
    ``F.aggregate`` HOF, DuckDB folds ``list(term ORDER BY from)`` with
    ``list_sum`` — the same W2/rolling-MAD determinism contract
    (operators/windows.py), so after 20 matrix-vector products both
    engines hold bit-identical doubles and ONE final round(8) suffices.
    Terms are ``v * cnt / tot`` (double * long / long, left-assoc) with
    exact-int cnt/tot — a fixed IEEE tree.

    100-TB shape: the fact table is scanned ONCE to build the
    vocabulary-bounded transition counts (|V|^2 rows max — TPC-H has 25
    brands); the counts reduce to a single row and ALL 20 power
    iterations run lazily inside one nested higher-order-function fold
    over that row — one job, zero per-iteration shuffles or
    checkpoints. (The r12 shape ran 20 eager localCheckpoint jobs for
    the same 625-entry matrix — ~10 s of pure job overhead at sf0.1.)
    A join-keyed iteration only wins when the state space itself
    exceeds one executor's memory, which a brand vocabulary never does.

    Join-vs-fold parity note: an inner join drops a target brand whose
    every source is absent from the current vector, while a naive fold
    would emit 0.0 for it — so each step keeps only entries with a
    non-empty term list (``size(tl) > 0``), reproducing the oracle's
    join semantics exactly.

    r16: the transition counts come from the shared persisted
    ``brand_transitions_view`` (one build serves this and
    ``brand_transition_matrix``); the fold is unchanged."""
    tr0 = brand_transitions_view(spark, sf_dir)
    # one-row reduce: the whole vocabulary-bounded matrix as a sorted
    # entry list (struct sort is lexicographic, so brand_from leads —
    # the fold-order key the determinism contract needs)
    row = tr0.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("brand_from", "brand_to", "cnt"))
        ).alias("m0")
    )

    def _let(val, body):
        # bind an expression ONCE as a lambda variable; without this,
        # project-collapsing inlines each alias into every downstream
        # reference and the nested fold re-evaluates the whole matrix
        # derivation per target per iteration (measured: minutes)
        return F.element_at(F.transform(F.array(val), body), 1)

    def step(vm, m, reach):
        # one matrix-vector product: for each reachable target, fold its
        # sources' terms in brand_from order (filter preserves the m
        # sort); keep join semantics — targets with no live source drop
        # out rather than becoming 0.0
        return F.map_from_entries(
            F.transform(
                F.filter(
                    F.transform(
                        reach,
                        lambda k: F.struct(
                            k.alias("brand"),
                            F.filter(
                                m,
                                lambda e: (e["brand_to"] == k)
                                & F.map_contains_key(vm, e["brand_from"]),
                            ).alias("tl"),
                        ),
                    ),
                    lambda s: F.size(s["tl"]) > 0,
                ),
                lambda s: F.struct(
                    s["brand"].alias("key"),
                    F.aggregate(
                        s["tl"],
                        F.lit(0.0),
                        lambda a, e: a
                        + F.element_at(vm, e["brand_from"]) * e["cnt"] / e["tot"],
                    ).alias("value"),
                ),
            )
        )

    def _iterate(m0):
        # states = brands with outgoing mass; restrict targets to states
        # so rows stay stochastic; attach each entry's exact row total
        # (sum over the RESTRICTED row, matching the oracle's tr CTE);
        # then run all MARKOV_ITERS matrix-vector products as one fold
        states = F.array_sort(
            F.array_distinct(F.transform(m0, lambda e: e["brand_from"]))
        )
        return _let(states, lambda st: _let(
            F.filter(m0, lambda e: F.array_contains(st, e["brand_to"])),
            lambda mr: _let(
                F.transform(
                    mr,
                    lambda e: F.struct(
                        e["brand_from"].alias("brand_from"),
                        e["brand_to"].alias("brand_to"),
                        e["cnt"].alias("cnt"),
                        F.aggregate(
                            F.filter(
                                mr,
                                lambda x: x["brand_from"] == e["brand_from"],
                            ),
                            F.lit(0).cast("long"),
                            lambda a, x: a + x["cnt"],
                        ).alias("tot"),
                    ),
                ),
                lambda m: _let(
                    F.array_sort(
                        F.array_distinct(F.transform(m, lambda e: e["brand_to"]))
                    ),
                    lambda reach: F.aggregate(
                        F.sequence(F.lit(1), F.lit(MARKOV_ITERS)),
                        F.map_from_arrays(
                            st,
                            F.transform(st, lambda _: F.lit(1.0) / F.size(st)),
                        ),
                        lambda vm, _i: step(vm, m, reach),
                    ),
                ),
            ),
        ))

    final = row.select(_iterate(F.col("m0")).alias("vm"))
    return final.select(F.explode("vm").alias("brand", "val")).select(
        "brand", F.round("val", 8).alias("pi")
    )


# --- LinUCB half-step (contextual bandit sufficient statistics) --------------

LINUCB_LAMBDA = 1     # ridge prior on A
LINUCB_ALPHA = 1.0    # exploration width
LINUCB_PROBE = 0.5    # probe context feature value for the UCB readout


@query(
    "linucb_step",
    oracle=f"""
WITH ev AS (
    SELECT event_type AS arm,
           CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS x,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 2 AS BIGINT) AS r
    FROM events
), s AS (
    SELECT arm,
           CAST(COUNT(*) AS BIGINT)                         AS n,
           CAST(SUM(x) AS DECIMAL(28,6))                    AS sx,
           CAST(SUM(x * x) AS DECIMAL(38,12))               AS sxx,
           CAST(SUM(r) AS BIGINT)                           AS sr,
           CAST(SUM(r * x) AS DECIMAL(28,6))                AS srx
    FROM ev GROUP BY 1
), f AS (
    SELECT arm, n,
           {LINUCB_LAMBDA} + CAST(n AS DOUBLE)   AS a00,
           CAST(sx AS DOUBLE)                    AS a01,
           {LINUCB_LAMBDA} + CAST(sxx AS DOUBLE) AS a11,
           CAST(sr AS DOUBLE)                    AS b0,
           CAST(srx AS DOUBLE)                   AS b1
    FROM s
), g AS (
    SELECT arm, n, a00, a01, a11, b0, b1,
           a00 * a11 - a01 * a01 AS det
    FROM f
)
SELECT arm, n,
       ROUND((a11 * b0 - a01 * b1) / det, 8) AS theta0,
       ROUND((a00 * b1 - a01 * b0) / det, 8) AS theta1,
       ROUND((a11 * b0 - a01 * b1) / det
             + (a00 * b1 - a01 * b0) / det * {LINUCB_PROBE!r}
             + {LINUCB_ALPHA!r} * SQRT(
                 (a11 - 2 * {LINUCB_PROBE!r} * a01
                  + {LINUCB_PROBE!r} * {LINUCB_PROBE!r} * a00) / det), 8)
           AS ucb_score
FROM g
""",
)
def q_linucb_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One LinUCB ridge half-step per arm (Li et al., WWW 2010) — the
    CONTEXTUAL sibling of ``bandit_replay_eval``'s context-free
    posterior and ``als_item_step``'s closed-form solve: context
    x = (1, value), reward r = parity of the event's props.k field,
    A = lambda*I + sum x x^T and b = sum r x accumulated as EXACT
    decimal sufficient statistics (the ols_trend discipline: 2x2 A has
    three distinct cells, all map-combinable), then theta = A^-1 b by
    the closed 2x2 inverse and the UCB readout
    theta.x* + alpha*sqrt(x*^T A^-1 x*) at a fixed probe context.

    Determinism: every sum is DECIMAL/int64 exact; the inverse/sqrt
    algebra is one fixed IEEE tree on correctly-rounded casts, rounded
    once at 8dp (magnitudes O(1)).

    100-TB shape: one scan -> five map-combinable cells per arm; the
    solve is |arms| rows of scalar algebra."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("arm"),
        F.round(F.col("value"), 6).cast("decimal(18,6)").alias("x"),
        (
            F.get_json_object("props", "$.k").cast("long") % 2
        ).alias("r"),
    )
    s = ev.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("decimal(28,6)").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,12)").alias("sxx"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("x")).cast("decimal(28,6)").alias("srx"),
    )
    a00 = F.lit(LINUCB_LAMBDA) + F.col("n").cast("double")
    a01 = F.col("sx").cast("double")
    a11 = F.lit(LINUCB_LAMBDA) + F.col("sxx").cast("double")
    b0 = F.col("sr").cast("double")
    b1 = F.col("srx").cast("double")
    det = a00 * a11 - a01 * a01
    th0 = (a11 * b0 - a01 * b1) / det
    th1 = (a00 * b1 - a01 * b0) / det
    p = F.lit(LINUCB_PROBE)
    ucb = th0 + th1 * p + F.lit(LINUCB_ALPHA) * F.sqrt(
        (a11 - F.lit(2.0) * p * a01 + p * p * a00) / det
    )
    return s.select(
        "arm",
        "n",
        F.round(th0, 8).alias("theta0"),
        F.round(th1, 8).alias("theta1"),
        F.round(ucb, 8).alias("ucb_score"),
    )


# --- Apriori level-3: frequent brand triples --------------------------------

TRI_SUPPORT = 0.004   # support floor for pairs AND triples (monotone)


@query(
    "apriori_triples",
    oracle=f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
), fp AS (
    SELECT a.brand AS u, b.brand AS v
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    CROSS JOIN n
    GROUP BY 1, 2, n.n_orders
    HAVING COUNT(*) >= {TRI_SUPPORT} * n.n_orders
), cand AS (
    SELECT p1.u AS a, p1.v AS b, p2.v AS c
    FROM fp p1
    JOIN fp p2 ON p2.u = p1.u AND p2.v > p1.v
    JOIN fp p3 ON p3.u = p1.v AND p3.v = p2.v
), pair_occ AS (
    SELECT a.ok, a.brand AS a, b.brand AS b
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    JOIN fp ON fp.u = a.brand AND fp.v = b.brand
), tri_occ AS (
    SELECT p.a, p.b, o.brand AS c, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pair_occ p
    JOIN ob o ON o.ok = p.ok AND o.brand > p.b
    JOIN cand ON cand.a = p.a AND cand.b = p.b AND cand.c = o.brand
    GROUP BY 1, 2, 3
)
SELECT t.a AS brand_a, t.b AS brand_b, t.c AS brand_c, t.cnt,
       ROUND(t.cnt / CAST(n.n_orders AS DOUBLE), 8) AS support
FROM tri_occ t CROSS JOIN n
WHERE t.cnt >= {TRI_SUPPORT} * n.n_orders
""",
)
def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3 (Agrawal & Srikant 1994) over order baskets:
    frequent brand TRIPLES at support >= {TRI_SUPPORT}, grown from
    frequent pairs by the classic candidate-generation + subset-pruning
    step (a triple is a candidate only if ALL three of its pairs are
    frequent) — the itemset layer above ``market_basket_pairs``' rules.

    Plan: frequent pairs are a vocabulary-bounded aggregate (broadcast);
    candidate triples join fp x fp on the shared head with a third-pair
    membership check — all broadcast-side, no basket data touched. The
    basket pass then streams (ok, a, b) pair occurrences SEMI-JOINED to
    frequent pairs (the Apriori prune: infrequent pairs never explode)
    before extending by one brand and checking the candidate set. Counts
    exact int64; one support division ROUND 8.

    100-TB shape: ONE shuffle keys baskets by order (collect_set is the
    distinct), and every pair/triple row is GENERATED map-side from the
    sorted basket array — the r15 replan of the former ok-keyed
    self-join cascade (four exchanges of basket-scale rows -> one; guide
    §2.3 aggregate-before-shuffle, §2.4 remove shuffles outright). The
    per-basket fan-out is the same C(k,2) rows the self-join produced,
    still Apriori-pruned before the triple extension; candidate/model
    sides are bounded aggregates. No all-pairs on the open item domain."""
    # r16: baskets come from the shared persisted ``order_baskets_view``
    # (one build also serves market_basket_pairs); pair generation is
    # the shared ``_basket_pairs`` helper — both unchanged from this
    # query's r15 replan, now factored for the family.
    baskets = order_baskets_view(spark, sf_dir)
    n = baskets.agg(F.count("*").cast("long").alias("n_orders"))
    pairs_all = _basket_pairs(baskets)
    fp = (
        pairs_all.groupBy(
            F.col("pr.u").alias("u"), F.col("pr.v").alias("v")
        )
        .agg(F.count("*").cast("long").alias("pc"))
        .crossJoin(F.broadcast(n))
        .where(F.col("pc") >= F.lit(TRI_SUPPORT) * F.col("n_orders"))
        .select("u", "v")
        .persist()
    )
    p2 = fp.select(F.col("u").alias("u2"), F.col("v").alias("c"))
    p3 = fp.select(F.col("u").alias("b3"), F.col("v").alias("c3"))
    cand = (
        fp.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(F.broadcast(p2), F.col("a") == F.col("u2"))
        .where(F.col("c") > F.col("b"))
        .join(
            F.broadcast(p3),
            (F.col("b") == F.col("b3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    pair_occ = pairs_all.select(
        "bs", F.col("pr.u").alias("a"), F.col("pr.v").alias("b")
    ).join(
        F.broadcast(fp.select(F.col("u").alias("a"), F.col("v").alias("b"))),
        ["a", "b"],
        "left_semi",
    )
    tri_occ = (
        pair_occ.select(
            "a",
            "b",
            F.explode(
                F.filter(F.col("bs"), lambda x: x > F.col("b"))
            ).alias("c"),
        )
        .join(F.broadcast(cand), ["a", "b", "c"], "left_semi")
        .groupBy("a", "b", "c")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        tri_occ.crossJoin(F.broadcast(n))
        .where(F.col("cnt") >= F.lit(TRI_SUPPORT) * F.col("n_orders"))
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.col("c").alias("brand_c"),
            "cnt",
            F.round(F.col("cnt") / F.col("n_orders").cast("double"), 8).alias(
                "support"
            ),
        )
    )
