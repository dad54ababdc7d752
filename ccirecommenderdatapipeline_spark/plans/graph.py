"""Recursive / iterative graph queries (north-star surface).

Spark 4 ships ANSI ``WITH RECURSIVE`` (iterative union execution under
Catalyst), which finally covers the hierarchy-walk shapes that previously
needed driver-side loops — the same shape as `dedup_clusters`' fixed-
iteration label propagation, but with the engine owning the fixpoint.

The customer hierarchy here is the decimal-shift tree (parent =
c_custkey // 10, roots at c_custkey < 10): synthetic but structurally a
real org/BOM hierarchy — depth grows with log10(|customers|), so the
recursion is bounded (~6 levels at sf1) while the frontier at each level is
data-sized. Each recursion step is one co-partitioned hash join of the
frontier against the (small, broadcast) parent map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.planmemo import shared_view
from ..sources.tables import load_table
from .registry import query

_HIER_SQL = """
WITH RECURSIVE walk(c_custkey, root_key, depth) AS (
    SELECT c_custkey, c_custkey AS root_key, 0 AS depth
    FROM customer WHERE c_custkey < 10
    UNION ALL
    SELECT c.c_custkey, w.root_key, w.depth + 1
    FROM customer c JOIN walk w ON w.c_custkey = c.c_custkey // 10
    WHERE c.c_custkey >= 10
)
SELECT CAST(c_custkey AS BIGINT)  AS c_custkey,
       CAST(root_key AS BIGINT)   AS root_key,
       CAST(depth AS INTEGER)     AS depth
FROM walk
"""

_ROLLUP_SQL = """
WITH RECURSIVE walk(c_custkey, root_key, depth, acctbal) AS (
    SELECT c_custkey, c_custkey, 0, c_acctbal
    FROM customer WHERE c_custkey < 10
    UNION ALL
    SELECT c.c_custkey, w.root_key, w.depth + 1, c.c_acctbal
    FROM customer c JOIN walk w ON w.c_custkey = c.c_custkey // 10
    WHERE c.c_custkey >= 10
)
SELECT CAST(root_key AS BIGINT)  AS root_key,
       CAST(COUNT(*) AS BIGINT)  AS n_members,
       CAST(MAX(depth) AS INTEGER) AS max_depth,
       CAST(SUM(CAST(ROUND(acctbal, 2) AS DECIMAL(18,2))) AS DOUBLE)
           AS subtree_acctbal
FROM walk
GROUP BY root_key
"""


@query("hierarchy_walk", oracle=_HIER_SQL)
def q_hierarchy_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI WITH RECURSIVE hierarchy walk: every customer labeled with its
    root ancestor and depth in the decimal-shift tree. The Spark side IS the
    recursive CTE (Catalyst's iterative UnionLoop execution); DuckDB runs
    the identical text. Spark's `//` is implemented with DIV for integer
    division."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_HIER_SQL.replace("// 10", "DIV 10"))


@query("hierarchy_rollup", oracle=_ROLLUP_SQL)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over the recursive walk: member count, max depth and
    exact DECIMAL subtree balance per root — the aggregate-after-fixpoint
    shape (org rollups, BOM cost explosions). One hash aggregate over the
    recursion output; the recursion itself shuffles only the per-level
    frontier."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_ROLLUP_SQL.replace("// 10", "DIV 10"))


def _node_label(node: str):
    """The 'c<custkey>' / 's<suppkey>' string of a packed purchase-graph
    node id (custkey*2 for customers, suppkey*2+1 for suppliers)."""
    return F.when(
        F.col(node) % 2 == 0,
        F.concat(F.lit("c"), F.shiftright(node, 1)),
    ).otherwise(F.concat(F.lit("s"), F.shiftright(node, 1)))


PR_D = 0.85          # damping
PR_ITERS = 5         # fixed iteration count (deterministic, resume-free)


def _pr_oracle() -> str:
    """Unrolled 5-iteration PageRank as chained CTEs (DuckDB side)."""
    body = """
WITH base_edges AS (
    SELECT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
), edges AS (
    SELECT src, dst, w FROM base_edges
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM base_edges
), nodes AS (
    SELECT DISTINCT src AS node FROM edges
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
), trans AS (
    SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM edges
), r0 AS (
    SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
)"""
    for i in range(PR_ITERS):
        body += f""", c{i} AS (
    SELECT t.dst AS node,
           SUM(CAST(ROUND(r.rank * t.p, 14) AS DECIMAL(28,14))) AS contrib
    FROM r{i} r JOIN trans t ON t.src = r.node
    GROUP BY t.dst
), r{i + 1} AS (
    SELECT n.node,
           (1 - {PR_D}) / nn.n + {PR_D} * CAST(COALESCE(c.contrib, 0) AS DOUBLE)
               AS rank
    FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON c.node = n.node
)"""
    return body + f"""
SELECT node, ROUND(rank, 12) AS rank FROM r{PR_ITERS}
"""


@query("pagerank_bipartite", oracle=_pr_oracle())
def q_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer<->supplier purchase graph
    (edges both directions, weight = lineitem count): the iterative-
    algorithm shape beyond label propagation (dedup_clusters) and recursive
    CTEs (hierarchy_walk). Per-iteration contributions are rounded to fixed
    scale and summed as DECIMAL, so the damped update is combine-order
    exact and both engines converge through IDENTICAL intermediate ranks —
    hash-equal after 5 rounds. Per iteration: one shuffle on dst (the
    contribution aggregation) against a reused transition table; node count
    and teleport mass ride as broadcast scalars, never a driver action.
    Dangling mass is not redistributed (standard simplification, stated)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # r16 (guide §2.3 narrower types): every internal shuffle/join/window
    # runs on a PACKED LONG node id — custkey*2 for the 'c' side,
    # suppkey*2+1 for the 's' side (bijective, so the graph and every
    # intermediate rank are identical) — and the 'c<key>'/'s<key>' node
    # STRING is built once per OUTPUT row at the final readout instead of
    # once per corpus-scale edge row. String keys made the base aggregate
    # and the transition window shuffle 2x the bytes and pay per-row
    # concat + string comparisons (measured: the base agg alone 1.98 ->
    # 1.41 s warm at sf0.1 with numeric keys).
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    from pyspark.sql import Window

    # r16 plan-size persists (the gbdt_boost_round/pca recipe): trans and
    # nodes are referenced by every one of the 5 unrolled iterations, and
    # each ranks_i inlines the whole chain below it — the plan carried 68
    # parquet scans / 62 exchanges for a 5-shuffle computation. Persisting
    # the two reused tables plus each (node-scale) rank vector truncates
    # the analyzed plan at cache boundaries; execution becomes the linear
    # per-iteration contribution shuffle the docstring describes. (The r12
    # note "persist measured as pessimizing" predates the r15/r16
    # plan-memo + plan-size-persist protocol and is superseded by the
    # interleaved A/B recorded in `git show 01014d4:OPTIMIZATION_r16.md`.)
    trans = edges.select(
        "src", "dst", (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = edges.select(F.col("src").alias("node")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nn = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", "n", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(PR_ITERS):
        ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
        contrib = (
            ranks.join(trans, ranks.node == trans.src)
            .select(
                F.col("dst").alias("cnode"),
                F.round(F.col("rank") * F.col("p"), 14).cast("decimal(28,14)").alias("c"),
            )
            .groupBy("cnode")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, F.col("node") == F.col("cnode"), "left")
            .select(
                "node",
                "n",
                (
                    (1 - PR_D) / F.col("n")
                    + PR_D * F.coalesce(F.col("contrib").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select(
        _node_label("node").alias("node"), F.round("rank", 12).alias("rank")
    )


# --- Shared basket-pair statistics for the brand co-occurrence family --------


def _pair_stats(spark: SparkSession, sf_dir: str):
    """(pr, bc, n) for the brand co-occurrence graph family — pr =
    (brand_a < brand_b, pair_cnt) basket co-occurrence counts, bc =
    per-brand basket counts, n = basket total.

    r16: seven graph queries (triangle_count_oriented,
    connected_components, sssp_weighted, kcore_decomposition,
    assortativity_degree, clustering_coefficient,
    link_prediction_jaccard) each inlined the identical corpus-scale
    incidence-distinct + ok-keyed self-join prefix and differed only in
    the lift threshold / weighting applied to the resulting <= C(|V|,2)
    pair table. pr now derives from the shared persisted
    ``order_baskets_view`` (pairs generated map-side from the sorted
    basket array — the r15 apriori form, counts identical by
    construction) and is itself memoized + persisted (<= 300 rows), so
    in a warm session the whole family pays the basket build once and
    every downstream graph is carved from one cached pair table. bc/n
    are cheap scans of the same baskets cache and stay lazy.

    100-TB shape unchanged: one corpus-scale shuffle (the basket
    groupBy), vocabulary-bounded everything after."""
    from .recommender import _basket_pairs, order_baskets_view

    baskets = order_baskets_view(spark, sf_dir)

    def build_pr() -> DataFrame:
        return (
            _basket_pairs(baskets)
            .groupBy(
                F.col("pr.u").alias("brand_a"), F.col("pr.v").alias("brand_b")
            )
            .agg(F.count("*").cast("long").alias("pair_cnt"))
        )

    pr = shared_view(
        spark, "brand_pair_counts", sf_dir, build_pr, StorageLevel.MEMORY_AND_DISK_DESER
    )
    bc = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n = baskets.agg(F.count("*").cast("long").alias("n_orders"))
    return pr, bc, n


def _lift_edges(spark: SparkSession, sf_dir: str, lift: float) -> DataFrame:
    """Canonical (u < v) brand edges with basket lift above ``lift``,
    carved from the shared ``_pair_stats`` pair table."""
    pr, bc, n = _pair_stats(spark, sf_dir)
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("c").alias("c_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("c").alias("c_b"))
    return (
        pr.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("pair_cnt") * F.col("n_orders"))
            / (F.col("c_a").cast("double") * F.col("c_b"))
            > lift
        )
        .select(F.col("brand_a").alias("u"), F.col("brand_b").alias("v"))
    )


# --- Triangle counting with degree orientation -------------------------------

TRI_LIFT = 1.0   # co-occurrence graph keeps edges with lift above this


@query(
    "triangle_count_oriented",
    oracle=f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY 1
), pr AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS pair_cnt
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
), edges AS (
    SELECT pr.brand_a AS u, pr.brand_b AS v
    FROM pr
    JOIN bc ca ON ca.brand = pr.brand_a
    JOIN bc cb ON cb.brand = pr.brand_b
    CROSS JOIN n
    WHERE (pair_cnt * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c) > {TRI_LIFT}
), deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    ) GROUP BY 1
), o AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
    FROM edges e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
), wedge AS (
    SELECT o1.t AS a, o2.t AS b
    FROM o o1 JOIN o o2
      ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
), tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM wedge w JOIN o ON o.s = w.a AND o.t = w.b
), wtot AS (
    SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       n_triangles,
       ROUND(3.0 * n_triangles / n_wedges, 8) AS transitivity
FROM tri CROSS JOIN wtot
""",
)
def q_triangle_count_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle counting (the MapReduce classic — Suri &
    Vassilvitskii 2011) over the brand co-occurrence graph (edges where
    basket lift > {TRI_LIFT}): orient every edge from the (degree, name)-
    smaller endpoint to the larger, build wedges only at each edge's tail,
    and close them with an EQUI-join back to the oriented edge list —
    per-node wedge work is O(out-degree^2) where orientation bounds
    out-degree by O(sqrt(m)) on any graph, the trick that makes triangle
    counting feasible on skewed 100-TB graphs (a hub's billions of wedges
    never materialize because hubs sort LAST in the total order and so
    have tiny out-degree). Reports the triangle count and global
    transitivity 3T / #wedges.

    The wedge pair is canonicalized by the SAME total order, so the
    closing edge lookup is a pure equi-join on (s, t) — no OR-join, no
    nested loop. All counts exact; one double division, ROUND 8.

    Graph siblings: ``pagerank_bipartite`` (iterative), ``dedup_clusters``
    (label propagation); this adds the subgraph-counting family."""
    # r16: edges carved from the shared persisted pair table
    # (_pair_stats / _lift_edges); downstream orientation unchanged.
    edges = _lift_edges(spark, sf_dir, TRI_LIFT).persist()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("td"),
    ).persist()
    o1 = o.select("s", F.col("t").alias("a"), F.col("td").alias("da"))
    o2 = o.select("s", F.col("t").alias("b"), F.col("td").alias("db"))
    wedge = o1.join(o2, "s").where(
        F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    )
    tri = wedge.join(
        o.select(F.col("s").alias("a"), F.col("t").alias("b")), ["a", "b"]
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    wtot = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1) / 2)).cast("long").alias("n_wedges")
    )
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        nn.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wtot))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 8).alias(
                "transitivity"
            ),
        )
    )


# --- BFS shortest hops (iterated frontier expansion) -------------------------

BFS_ITERS = 4   # fixed frontier expansions; labels are exact min-hops <= 4


def _bfs_oracle() -> str:
    """Unrolled {BFS_ITERS}-level BFS as chained CTEs (DuckDB side)."""
    body = """
WITH base_edges AS (
    SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), sym AS (
    SELECT src, dst FROM base_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM base_edges
), seed AS (
    SELECT MIN(src) AS node FROM sym
), f0 AS (
    SELECT node, 0 AS hop FROM seed
)"""
    for i in range(1, BFS_ITERS + 1):
        body += f""", f{i} AS (
    SELECT DISTINCT s.dst AS node, {i} AS hop
    FROM f{i - 1} f JOIN sym s ON s.src = f.node
)"""
    union = "\nUNION ALL\n".join(
        f"    SELECT node, hop FROM f{i}" for i in range(BFS_ITERS + 1)
    )
    return body + f""", lv AS (
{union}
)
SELECT node, CAST(MIN(hop) AS INTEGER) AS hops
FROM lv GROUP BY node
"""


@query("bfs_hops", oracle=_bfs_oracle())
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hops from the lexicographically-first node of
    the customer<->supplier purchase graph, as {BFS_ITERS} unrolled
    frontier expansions — the single-source-shortest-path shape
    (hop-bounded, the standard production cut: 'within N degrees')
    completing the graph family next to ``pagerank_bipartite``
    (iteration), ``triangle_count_oriented`` (counting) and
    ``hierarchy_walk`` (recursion). A node's label is its min-hops from
    the seed — exact for every node within {BFS_ITERS} hops, by BFS
    induction; unreached nodes are absent (no sentinel rows).

    One lazy plan; building it runs no Spark job. Nodes are packed long
    ids (``pagerank_bipartite``'s recipe: custkey*2, suppkey*2+1), and the
    'c'/'s' label is built once per output row. The symmetric edge list
    reads the distinct base edges once, inlining both directions of each.
    The seed is the oracle's MIN over the node strings, which is the MIN
    of the 'c'||custkey strings ('c' sorts before 's'), packed back to
    its id inside the plan.

    Each level reads the previous level's ``reached(node, hop)`` exactly
    once: a left join to the edges on ``node = src AND hop = i-1`` (only
    the frontier matches; the hop test stays in the ON clause, since a
    null join key for the other rows would send them all to one shuffle
    partition), an inline of ``(node, hop)`` and ``(dst, i)``, and a
    ``groupBy(node).min(hop)``. A lazy delta-BFS, which anti-joins each
    frontier against the union of the earlier ones, references every
    level twice, so its unrolled plan doubles with each level.

    Determinism: hop levels are exact integers; the seed is a MIN
    aggregate; no floats anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    sym = base.select(
        F.inline(
            F.array(
                F.struct("src", "dst"),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        )
    )
    reached = base.agg(
        F.min(F.concat(F.lit("c"), F.shiftright("src", 1))).alias("seed")
    ).select(
        (F.expr("substr(seed, 2)").cast("long") * 2).alias("node"),
        F.lit(0).alias("hop"),
    )
    for i in range(1, BFS_ITERS + 1):
        reached = (
            reached.join(
                sym, (F.col("node") == F.col("src")) & (F.col("hop") == i - 1), "left"
            )
            .select(
                F.inline(
                    F.array(
                        F.struct("node", "hop"),
                        F.struct(F.col("dst").alias("node"), F.lit(i).alias("hop")),
                    )
                )
            )
            .where(F.col("node").isNotNull())
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return reached.select(
        _node_label("node").alias("node"), F.col("hop").cast("int").alias("hops")
    )


# --- Connected components via alternating large-star / small-star ------------

CC_LIFT = 1.05    # sparser than TRI_LIFT so the graph actually fragments


_CC_EDGES_SQL = f"""
ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY 1
), pr AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS pair_cnt
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
), edges AS (
    SELECT pr.brand_a AS u, pr.brand_b AS v
    FROM pr
    JOIN bc ca ON ca.brand = pr.brand_a
    JOIN bc cb ON cb.brand = pr.brand_b
    CROSS JOIN n
    WHERE (pair_cnt * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c) > {CC_LIFT}
)"""


def _cc_label_fold(edges: DataFrame) -> DataFrame:
    """Exact connected components of a BOUNDED edge set as one lazy
    single-row fold (r15 replan, the ``markov_stationary`` class):
    collect the (u, v) edges into one sorted struct list and run
    min-label propagation — lab'[n] = min(lab[n], min over neighbors'
    labels) — for |V|-1 rounds inside a higher-order-function
    ``aggregate``. Min-label needs diameter-many rounds and diameter
    <= |V|-1, with the round count derived from the COLLECTED node set
    (never a fixture constant), so convergence is guaranteed by
    construction on any input; propagating past the fixed point is the
    identity. Labels converge to each component's MINIMUM node — the
    same roots the oracle's recursive transitive closure proves.

    Output: (brand, component) for every non-isolated node. Only valid
    for vocabulary-bounded graphs (the brand graph: 25 nodes, <= 300
    lift-filtered edges at ANY corpus size); a billion-node graph needs
    the alternating-star contraction this replaced (git history r7-r14)
    — kept note: that loop cost ~4 eager-checkpoint jobs + a semi-join
    probe PER ROUND over <=300-row tables, pure orchestration here."""
    row = edges.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("u", "v"))).alias("e0")
    )

    def _let(val, body):
        return F.element_at(F.transform(F.array(val), body), 1)

    def step(lm, es, ns):
        return F.map_from_entries(
            F.transform(
                ns,
                lambda nd: F.struct(
                    nd.alias("key"),
                    F.array_min(
                        F.concat(
                            F.array(F.element_at(lm, nd)),
                            F.transform(
                                F.filter(es, lambda x: x["u"] == nd),
                                lambda x: F.element_at(lm, x["v"]),
                            ),
                            F.transform(
                                F.filter(es, lambda x: x["v"] == nd),
                                lambda x: F.element_at(lm, x["u"]),
                            ),
                        )
                    ).alias("value"),
                ),
            )
        )

    out = _let(F.col("e0"), lambda es: _let(
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.transform(es, lambda x: x["u"]),
                    F.transform(es, lambda x: x["v"]),
                )
            )
        ),
        lambda ns: F.aggregate(
            # |V|-1 rounds >= diameter; empty graph still folds once
            F.sequence(F.lit(1), F.greatest(F.size(ns) - 1, F.lit(1))),
            F.map_from_arrays(ns, ns),
            lambda lm, _i: step(lm, es, ns),
        ),
    ))
    return row.select(F.explode(out).alias("brand", "component"))


@query(
    "connected_components",
    oracle=f"""
WITH RECURSIVE {_CC_EDGES_SQL}, sym AS (
    SELECT u AS src, v AS dst FROM edges
    UNION ALL
    SELECT v AS src, u AS dst FROM edges
), walk(node, lab) AS (
    SELECT src, src FROM sym
    UNION
    SELECT s.dst, w.lab FROM walk w JOIN sym s ON s.src = w.node
)
SELECT node AS brand, MIN(lab) AS component
FROM walk GROUP BY node
""",
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the lift>{CC_LIFT} brand co-occurrence
    graph (r15 replan — see ``_cc_label_fold``): the fact-table work
    (ob DISTINCT, pair aggregation, lift filter) stays fully
    distributed and identical; the vocabulary-bounded edge set (25
    brands, <= 300 edges at any corpus size) then reduces to ONE row
    and min-label propagation runs lazily inside a single
    higher-order-function fold — one job, replacing the r7-r14
    alternating large/small-star loop whose ~4 eager-checkpoint jobs +
    semi-join convergence probe per round were pure orchestration on a
    <=300-row table (3.2-7.7 s sweep cells at sf0.1). The oracle proves
    the labels: DuckDB computes the EXACT components by recursive
    transitive closure, and hash equality pins every root.

    Output: every non-isolated node labeled with its component's minimum
    brand (isolated brands carry no signal and are absent, as in
    ``dedup_clusters``). All keys are strings/ints — no floats."""
    # r16: edges carved from the shared persisted pair table.
    edges = _lift_edges(spark, sf_dir, CC_LIFT)
    return _cc_label_fold(edges)


# --- Weighted single-source shortest paths (Bellman-Ford relaxation) ---------

_SSSP_K = 24           # fold depth AND oracle relaxation depth: |V| - 1 over
                       # the 25 brands; relaxing past the fixed point is the
                       # identity, so a fixed count needs no convergence check


def _sssp_oracle() -> str:
    """Chained-CTE Bellman-Ford: d{{i+1}}(v) = min(d{{i}}(v),
    min over edges u->v of d{{i}}(u) + w). K={_SSSP_K} rounds = |V|-1
    suffices for any positive-weight shortest path (the bfs_hops chained
    frontier precedent, generalized to weighted min-plus)."""
    body = """
ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), pr AS (
    SELECT a.brand AS u, b.brand AS v, CAST(COUNT(*) AS BIGINT) AS pair_cnt
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
), e AS (
    SELECT u, v, GREATEST(CAST(1 AS BIGINT),
                          CAST(1000000 // pair_cnt AS BIGINT)) AS w
    FROM pr
), sym AS MATERIALIZED (
    SELECT u AS src, v AS dst, w FROM e
    UNION ALL
    SELECT v AS src, u AS dst, w FROM e
), src AS (SELECT MIN(src) AS s FROM sym),
d0 AS MATERIALIZED (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src)"""
    for i in range(_SSSP_K):
        body += f""",
d{i + 1} AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT s.dst AS node, d.dist + s.w AS dist
        FROM d{i} d JOIN sym s ON s.src = d.node
    ) GROUP BY node
)"""
    return (
        "WITH "
        + body
        + f"""
SELECT node AS brand, CAST(dist AS BIGINT) AS dist
FROM d{_SSSP_K}
"""
    )


@query("sssp_weighted", oracle=_sssp_oracle())
def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the brand co-occurrence
    graph (edge cost = 1e6 // pair_cnt, floored at 1 — rarely
    co-purchased brands are "far"), from the lexicographically-first
    brand: Bellman-Ford edge relaxation, the weighted generalization of
    ``bfs_hops``' frontier joins.

    r15 replan (the ``markov_stationary`` single-row-fold class): the
    relaxation graph is VOCABULARY-BOUNDED — 25 TPC-H brands, <= 600
    directed edges at any corpus size — so the old loop of [join +
    min-aggregate + eager localCheckpoint + fixed-point count] per
    round was ~2 scheduled jobs per round over <=25-row tables, pure
    job/checkpoint orchestration (2.5-12 s sweep cells at sf0.1). The
    fact-table work (the ob DISTINCT + pair aggregation) stays fully
    distributed and identical; the bounded symmetric edge list then
    reduces to ONE row and all {_SSSP_K} min-plus rounds run lazily
    inside a single higher-order-function fold over a node->dist map —
    one job, zero per-round shuffles/checkpoints, fully lazy plan.
    {_SSSP_K} = |V|-1 fixed rounds replace the fixed-point check:
    positive weights converge in <= |V|-1 rounds and relaxing past the
    fixed point is the identity — the SAME argument (and round count)
    the oracle's chained-CTE unroll uses. Costs are exact int64
    (integer floor-division weights, + and min only), so Spark and the
    oracle agree bit-for-bit.

    100-TB shape: the fact scan feeding the pair aggregation is the
    only data-sized stage (map-combinable, keyed (order, brand)); a
    join-keyed relaxation only wins when the node state itself exceeds
    one executor's memory, which a brand vocabulary never does."""
    # r16: pair counts from the shared persisted pair table.
    pr, _, _ = _pair_stats(spark, sf_dir)
    e = pr.select(
        F.col("brand_a").alias("u"),
        F.col("brand_b").alias("v"),
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.lit(1_000_000) / F.col("pair_cnt")).cast("long"),
        ).alias("w"),
    )
    sym = e.select("u", "v", "w").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    row = sym.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("u", "v", "w"))).alias("es")
    )

    def _let(val, body):
        # bind an expression ONCE as a lambda variable (the
        # markov_stationary idiom); see q_kcore_decomposition
        return F.element_at(F.transform(F.array(val), body), 1)

    def relax(dm, es, ns):
        # one min-plus round: for each node, min of its current dist and
        # (dist[u] + w) over incoming edges from currently-reached u;
        # nodes with neither stay absent (least of two NULLs), matching
        # the join semantics of the old loop and the oracle
        return F.map_from_entries(
            F.filter(
                F.transform(
                    ns,
                    lambda nd: F.struct(
                        nd.alias("key"),
                        F.least(
                            F.element_at(dm, nd),
                            F.array_min(
                                F.transform(
                                    F.filter(
                                        es,
                                        lambda ed: (ed["v"] == nd)
                                        & F.map_contains_key(dm, ed["u"]),
                                    ),
                                    lambda ed: F.element_at(dm, ed["u"])
                                    + ed["w"],
                                )
                            ),
                        ).alias("value"),
                    ),
                ),
                lambda s: s["value"].isNotNull(),
            )
        )

    def _iterate(es0):
        return _let(es0, lambda es: _let(
            # sym carries both directions, so u alone covers every node
            F.array_sort(F.array_distinct(F.transform(es, lambda ed: ed["u"]))),
            lambda ns: F.aggregate(
                F.sequence(F.lit(1), F.lit(_SSSP_K)),
                # source = lexicographically-first node, dist 0
                F.map_from_arrays(
                    F.array(F.element_at(ns, 1)),
                    F.array(F.lit(0).cast("long")),
                ),
                lambda dm, _i: relax(dm, es, ns),
            ),
        ))

    final = row.select(_iterate(F.col("es")).alias("dm"))
    return final.select(F.explode("dm").alias("brand", "dist"))


# --- k-core decomposition (iterative peeling) --------------------------------

KCORE_K = 3
KCORE_LIFT = 1.02       # denser than CC_LIFT so the core is non-trivial at
                        # the driver's sf0.01 gate (CC's 1.05 graph peels to
                        # empty there — a vacuous 0==0 check)
_KCORE_R = 26           # fold depth AND oracle unroll: |V| + 1 peels always
                        # reach the core (rounds <= nodes removed <= 25),
                        # and peeling past the fixed point is the identity


def _kcore_oracle() -> str:
    body = f"""
ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY 1
), pr AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS pair_cnt
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
), e0 AS MATERIALIZED (
    SELECT pr.brand_a AS u, pr.brand_b AS v
    FROM pr
    JOIN bc ca ON ca.brand = pr.brand_a
    JOIN bc cb ON cb.brand = pr.brand_b
    CROSS JOIN n
    WHERE (pair_cnt * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c) > {KCORE_LIFT}
)"""
    for i in range(_KCORE_R):
        body += f""",
keep{i} AS MATERIALIZED (
    SELECT node FROM (
        SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}
    ) GROUP BY node HAVING COUNT(*) >= {KCORE_K}
),
e{i + 1} AS MATERIALIZED (
    SELECT e.u, e.v FROM e{i} e
    JOIN keep{i} ku ON ku.node = e.u
    JOIN keep{i} kv ON kv.node = e.v
)"""
    return (
        "WITH "
        + body
        + f"""
SELECT node AS brand, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM e{_KCORE_R} UNION ALL SELECT v FROM e{_KCORE_R})
GROUP BY node
"""
    )


@query("kcore_decomposition", oracle=_kcore_oracle())
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {KCORE_K}-core of the lift>{KCORE_LIFT} brand co-occurrence graph
    (Seidman 1983): iteratively PEEL every node with degree < k and the
    edges it carries until the degree condition holds everywhere — the
    standard cohesion screen (dense-community seeds, spam-ring cores)
    that a single degree filter gets wrong (removals cascade).

    r15 replan (the ``markov_stationary`` single-row-fold class): the
    peel graph is VOCABULARY-BOUNDED — 25 TPC-H brands, <= 300
    lift-filtered edges at any corpus size — so the old loop of
    [degree aggregate -> two semi-joins -> eager localCheckpoint ->
    count] per round was ~10 scheduled jobs over <=300-row tables, pure
    job/checkpoint orchestration (3.2 s sweep cell at sf0.1, ~2 s of it
    the loop). The fact-table work (the ob DISTINCT + pair aggregation)
    stays fully distributed and identical; the bounded edge set then
    reduces to ONE row (sorted struct list) and all {_KCORE_R} peels run
    lazily inside a single higher-order-function fold — one job, zero
    per-round shuffles/checkpoints, and the query is now fully LAZY (no
    eager-at-construction jobs). {_KCORE_R} = |V|+1 fixed peels replace
    the fixed-point check: rounds-to-converge <= nodes-ever-removed
    <= |V|, and peeling past the fixed point is the identity — the SAME
    argument (and iteration count) the oracle's materialized unroll
    uses, so hash equality proves the fold reached the same core.
    Output: core members with their degree INSIDE the core (exact ints).

    100-TB shape: the fact scan feeding the pair aggregation is the only
    data-sized stage (map-combinable, keyed (order, brand)); a join-keyed
    peel only wins when the graph itself exceeds one executor's memory,
    which a brand vocabulary never does."""
    # r16: edges carved from the shared persisted pair table.
    e = _lift_edges(spark, sf_dir, KCORE_LIFT)
    row = e.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("u", "v"))).alias("e0")
    )

    def _let(val, body):
        # bind an expression ONCE as a lambda variable (the
        # markov_stationary idiom) — without this, project-collapsing
        # inlines each alias into every downstream reference
        return F.element_at(F.transform(F.array(val), body), 1)

    def _endpoints(edges):
        return F.array_sort(
            F.array_distinct(
                F.concat(
                    F.transform(edges, lambda x: x["u"]),
                    F.transform(edges, lambda x: x["v"]),
                )
            )
        )

    def peel(acc):
        # one peel: keep = nodes with degree >= K in acc; an edge
        # survives iff both endpoints are kept
        return _let(
            _endpoints(acc),
            lambda ns: _let(
                F.filter(
                    ns,
                    lambda nd: F.size(
                        F.filter(
                            acc, lambda x: (x["u"] == nd) | (x["v"] == nd)
                        )
                    )
                    >= KCORE_K,
                ),
                lambda keep: F.filter(
                    acc,
                    lambda x: F.array_contains(keep, x["u"])
                    & F.array_contains(keep, x["v"]),
                ),
            ),
        )

    core = F.aggregate(
        F.sequence(F.lit(1), F.lit(_KCORE_R)),
        F.col("e0"),
        lambda acc, _i: peel(acc),
    )
    out = _let(
        core,
        lambda c: _let(
            _endpoints(c),
            lambda ns: F.transform(
                ns,
                lambda nd: F.struct(
                    nd.alias("brand"),
                    F.size(
                        F.filter(c, lambda x: (x["u"] == nd) | (x["v"] == nd))
                    )
                    .cast("long")
                    .alias("core_degree"),
                ),
            ),
        ),
    )
    return row.select(F.explode(out).alias("s")).select(
        F.col("s.brand").alias("brand"),
        F.col("s.core_degree").alias("core_degree"),
    )


# --- Degree assortativity coefficient ----------------------------------------

@query(
    "assortativity_degree",
    oracle="""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), e AS (
    SELECT a.brand AS u, b.brand AS v
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
), dsym AS (
    SELECT u AS src, v AS dst FROM e
    UNION ALL
    SELECT v AS src, u AS dst FROM e
), deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM dsym GROUP BY 1
), pairs AS (
    SELECT du.d AS x, dv.d AS y
    FROM dsym s JOIN deg du ON du.node = s.src JOIN deg dv ON dv.node = s.dst
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pairs
)
SELECT m AS n_directed_edges,
       ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / NULLIF(SQRT((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 0), 8)
           AS assortativity
FROM m
""",
)
def q_assortativity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the brand
    co-occurrence graph: the Pearson correlation of endpoint degrees
    over every directed edge — positive = hubs attach to hubs (social
    shape), negative = hub-and-spoke (broadcast shape). The one-number
    topology diagnostic next to ``key_skew_profile``'s key-level view;
    it decides whether hub-capped plans (dedup_simhash_hamming's bucket
    caps) are load-bearing on a given graph.

    Exact int64 sufficient statistics (degrees and their products are
    vocabulary-bounded), one fixed IEEE tree, one round(8) — the
    ols_trend discipline. Plan: distinct-pair edges, one degree
    aggregate, two broadcast joins back, a single scalar moment row.

    100-TB: everything after the pair distinct is node/edge-grain with
    map-combinable moments; the correlation itself is one row."""
    # r16: the distinct co-occurring pair set IS the shared pair
    # table's key set (its groupBy produced one row per pair).
    pr, _, _ = _pair_stats(spark, sf_dir)
    e = pr.select(F.col("brand_a").alias("u"), F.col("brand_b").alias("v"))
    dsym = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).persist()
    deg = dsym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    pairs = (
        dsym.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("x"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))),
            "dst",
        )
        .select("x", "y")
    )
    m = pairs.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = md * F.col("sxy") - sxd * F.col("sy")
    denx = md * F.col("sxx") - sxd * F.col("sx")
    deny = md * F.col("syy") - syd * F.col("sy")
    return m.select(
        F.col("m").alias("n_directed_edges"),
        # NULL on a degree-regular graph (zero variance -> r undefined)
        F.round(num / F.nullif(F.sqrt(denx * deny), F.lit(0.0)), 8).alias(
            "assortativity"
        ),
    )


# --- Per-node clustering coefficient / common-neighbor link prediction -------

# Shared oracle CTE: the lift-filtered brand co-occurrence graph, exactly
# the edge set of triangle_count_oriented (reference daily_function.py has
# no graph surface; this extends the basket-analysis family).
_BRAND_EDGES_CTE = f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
    SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
), bc AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY 1
), pr AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS pair_cnt
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY 1, 2
), edges AS (
    SELECT pr.brand_a AS u, pr.brand_b AS v
    FROM pr
    JOIN bc ca ON ca.brand = pr.brand_a
    JOIN bc cb ON cb.brand = pr.brand_b
    CROSS JOIN n
    WHERE (pair_cnt * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c) > {TRI_LIFT}
)"""


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) lift-filtered brand co-occurrence edges — the
    Spark twin of ``_BRAND_EDGES_CTE`` (same graph triangle_count uses).
    r16: carved from the shared persisted pair table."""
    return _lift_edges(spark, sf_dir, TRI_LIFT)


@query(
    "clustering_coefficient",
    oracle=_BRAND_EDGES_CTE
    + """
, deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    ) GROUP BY 1
), o AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
    FROM edges e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
), tri AS (
    SELECT o1.s AS x, o1.t AS y, o2.t AS z
    FROM o o1
    JOIN o o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
    JOIN o oc ON oc.s = o1.t AND oc.t = o2.t
), pert AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY 1
)
SELECT d.node AS brand, d.d AS degree,
       COALESCE(p.n_tri, CAST(0 AS BIGINT)) AS n_triangles,
       CASE WHEN d.d >= 2
            THEN ROUND(2.0 * COALESCE(p.n_tri, 0) / (d.d * (d.d - 1)), 8)
            END AS lcc
FROM deg d LEFT JOIN pert p ON p.node = d.node
""",
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (Watts-Strogatz) over the
    brand co-occurrence graph: lcc(v) = 2*tri(v) / (d(v)*(d(v)-1)), NULL
    where degree < 2 leaves it undefined.

    Plan: the SAME degree-oriented wedge enumeration as
    ``triangle_count_oriented`` (hub wedges never materialize because the
    (degree, name) total order gives hubs tiny out-degree), but each
    closed triangle is attributed to all THREE corners via a 3-way
    unionAll before the per-node count — still an equi-join pipeline, no
    OR-join. Degrees broadcast (vocabulary-bounded dimension).

    100-TB shape: wedge work is O(sum of out-degree^2) = O(m^{3/2}) on
    any graph regardless of skew; the per-node attribution adds one
    map-side explode of exactly 3 rows per triangle."""
    edges = _brand_edges(spark, sf_dir).persist()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
        .persist()
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("td"),
    ).persist()
    o1 = o.select("s", F.col("t").alias("a"), F.col("td").alias("da"))
    o2 = o.select("s", F.col("t").alias("b"), F.col("td").alias("db"))
    tri = (
        o1.join(o2, "s")
        .where(F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b")))
        .join(o.select(F.col("s").alias("a"), F.col("t").alias("b")), ["a", "b"])
        .select("s", "a", "b")
    )
    pert = (
        tri.select(F.col("s").alias("node"))
        .unionAll(tri.select(F.col("a").alias("node")))
        .unionAll(tri.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    dd = F.col("d").cast("double")
    return (
        deg.join(F.broadcast(pert), "node", "left")
        .select(
            F.col("node").alias("brand"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce(F.col("n_tri"), F.lit(0))
                    / (dd * (dd - F.lit(1.0))),
                    8,
                ),
            ).alias("lcc"),
        )
    )


@query(
    "link_prediction_jaccard",
    oracle=_BRAND_EDGES_CTE
    + """
, bidir AS (
    SELECT u AS src, v AS dst FROM edges
    UNION ALL
    SELECT v AS src, u AS dst FROM edges
), deg AS (
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM bidir GROUP BY 1
), cn AS (
    SELECT b1.dst AS a, b2.dst AS b, CAST(COUNT(*) AS BIGINT) AS common
    FROM bidir b1 JOIN bidir b2 ON b1.src = b2.src AND b1.dst < b2.dst
    GROUP BY 1, 2
), cand AS (
    SELECT c.a, c.b, c.common
    FROM cn c
    LEFT JOIN edges e ON e.u = c.a AND e.v = c.b
    WHERE e.u IS NULL
)
SELECT c.a AS brand_a, c.b AS brand_b, c.common AS common_neighbors,
       ROUND(CAST(c.common AS DOUBLE) / (da.d + db.d - c.common), 8) AS jaccard
FROM cand c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
""",
)
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    for every NON-adjacent brand pair with at least one shared neighbor,
    the Jaccard score |N(a) n N(b)| / |N(a) u N(b)| — the classic
    "which edge forms next" readout recommender graphs run.

    Plan: wedge enumeration via the bidirectional adjacency self-joined
    on the shared center (one shuffle on src), canonical a < b so the
    existing-edge anti-join is a pure equi-join on the canonical edge
    list; degrees broadcast. Exact integer common/union counts, one
    division ROUND 8.

    100-TB shape: wedge work is sum over centers of d(z)^2 — on the
    bounded brand vocabulary trivially small; on an open graph the
    standard production mitigation (cap or sample wedge centers above a
    degree threshold, as dedup_simhash_hamming does for hub buckets)
    applies without changing the plan shape."""
    edges = _brand_edges(spark, sf_dir).persist()
    bidir = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = bidir.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    b1 = bidir.select("src", F.col("dst").alias("a"))
    b2 = bidir.select("src", F.col("dst").alias("b"))
    cn = (
        b1.join(b2, "src")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    cand = cn.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("d_b"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            F.col("common").alias("common_neighbors"),
            F.round(
                F.col("common").cast("double")
                / (F.col("d_a") + F.col("d_b") - F.col("common")),
                8,
            ).alias("jaccard"),
        )
    )


# --- HITS hubs & authorities (integer-exact unrolled power iteration) ---------

HITS_ROUNDS = 3   # authority updates a1 -> a2 -> a3 (hub refreshes between)


@query(
    "hits_hubs_authorities",
    oracle="""
WITH e AS (
    SELECT DISTINCT o.o_custkey AS c, p.p_brand AS b
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), a1 AS (
    SELECT b, CAST(COUNT(*) AS HUGEINT) AS a FROM e GROUP BY 1
), h1 AS (
    SELECT c, CAST(SUM(a) AS HUGEINT) AS h
    FROM e JOIN a1 USING (b) GROUP BY 1
), a2 AS (
    SELECT b, CAST(SUM(h) AS HUGEINT) AS a
    FROM e JOIN h1 USING (c) GROUP BY 1
), h2 AS (
    SELECT c, CAST(SUM(a) AS HUGEINT) AS h
    FROM e JOIN a2 USING (b) GROUP BY 1
), a3 AS (
    SELECT b, CAST(SUM(h) AS HUGEINT) AS a
    FROM e JOIN h2 USING (c) GROUP BY 1
), s AS (
    SELECT CAST(SUM(a) AS HUGEINT) AS tot FROM a3
)
SELECT a3.b AS brand,
       CAST(a1.a AS BIGINT) AS degree,
       CAST(a3.a AS VARCHAR) AS authority_raw,
       ROUND(CAST(a3.a AS DOUBLE) / CAST(s.tot AS DOUBLE), 12)
           AS authority
FROM a3 JOIN a1 USING (b), s
""",
)
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) over the customer<->brand purchase
    bipartite graph, {HITS_ROUNDS} authority rounds — the mutually-
    recursive sibling of ``pagerank_bipartite`` (authority mass flows
    through hub scores, not a damped random walk). The standard
    algorithm normalizes each round; because normalization is a
    POSITIVE SCALAR, the direction of the iterate is unchanged by
    deferring it — so every intermediate sum here is an exact INTEGER
    (a_k = (A^T A)^k applied to the all-ones vector), and the single
    L1 normalization happens at readout: one decimal->double cast and
    one division, ROUND 12. No per-round float drift, no transcendental
    — hash-equal across engines by construction.

    Magnitudes: ||a_k||_inf <= (max_brand_deg * max_cust_deg)^k * |C|;
    brand degree is customer-count bounded and customer degree is
    brand-vocabulary bounded (<= 25), so 3 rounds fit decimal(38,0)
    far past 1e9 customers (Spark) / HUGEINT (oracle) — both exact.

    r15 replan (the ``markov_stationary`` single-row-fold class): the
    iterate never needs the customer-grain hub table explicitly —
    a_(k+1) = M . a_k with M = A^T A the BRAND x BRAND co-purchase
    count matrix (M[b,b'] = customers buying both; diagonal = degree =
    a_1), and M is vocabulary-bounded (<= 625 entries for 25 brands at
    ANY corpus size). So the plan computes M ONCE as a distributed
    customer-grain self-join + aggregation (the market_basket_pairs
    shape; bounded 25^2-per-customer amplification), reduces it to a
    single sorted row, and runs both authority updates lazily inside
    one higher-order-function fold — replacing the unrolled per-round
    global shuffles whose plan re-inlined the 3-table edge build per
    round (27 exchanges / 33 scans before; one co-occurrence agg + a
    1-row fold after). Every sum is the same exact integer in
    decimal(38,0), just re-associated — integer addition commutes, so
    hash equality with the unchanged join-form oracle proves the
    algebra.

    100-TB: M's aggregation is map-combinable on the (c) then (b, b')
    keys; nothing iterates at driver side; the fold is O(|V|^2) on one
    row."""
    # r16: the customer-brand incidence is the recommender family's
    # shared persisted cb_incidence_view (identical distinct).
    from .recommender import cb_incidence_view

    e = cb_incidence_view(spark, sf_dir).select(
        F.col("ck").alias("c"), F.col("brand").alias("b")
    )
    e2 = e.select("c", F.col("b").alias("b2"))
    m = (
        e.join(e2, "c")
        .groupBy("b", "b2")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    row = m.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("b", "b2", "cnt"))).alias("m0")
    )

    def _let(val, body):
        # bind an expression ONCE as a lambda variable (the
        # markov_stationary idiom); see q_kcore_decomposition
        return F.element_at(F.transform(F.array(val), body), 1)

    def matvec(am, mm, bs):
        # a'[b] = sum_{b'} M[b,b'] * a[b'] — exact integers in
        # decimal(38,0); fold order is irrelevant for integer addition
        return F.map_from_entries(
            F.transform(
                bs,
                lambda b: F.struct(
                    b.alias("key"),
                    F.aggregate(
                        F.filter(mm, lambda x: x["b"] == b),
                        F.lit(0).cast("decimal(38,0)"),
                        lambda acc, x: acc
                        + x["cnt"] * F.element_at(am, x["b2"]),
                    ).alias("value"),
                ),
            )
        )

    def _readout(m0):
        return _let(m0, lambda mm: _let(
            F.array_sort(
                F.array_distinct(F.transform(mm, lambda x: x["b"]))
            ),
            lambda bs: _let(
                # a_1 = degree vector = the diagonal of M
                F.map_from_entries(
                    F.transform(
                        F.filter(mm, lambda x: x["b"] == x["b2"]),
                        lambda x: F.struct(
                            x["b"].alias("key"),
                            x["cnt"].cast("decimal(38,0)").alias("value"),
                        ),
                    )
                ),
                lambda a1: _let(
                    F.aggregate(
                        F.sequence(F.lit(1), F.lit(HITS_ROUNDS - 1)),
                        a1,
                        lambda am, _i: matvec(am, mm, bs),
                    ),
                    lambda a3: _let(
                        F.aggregate(
                            F.transform(
                                bs, lambda b: F.element_at(a3, b)
                            ),
                            F.lit(0).cast("decimal(38,0)"),
                            lambda acc, v: acc + v,
                        ),
                        lambda tot: F.transform(
                            bs,
                            lambda b: F.struct(
                                b.alias("brand"),
                                F.element_at(a1, b)
                                .cast("long")
                                .alias("degree"),
                                # readout flattened to STRING: Spark
                                # decimal(38,0) vs DuckDB HUGEINT hash
                                # differently in the driver's
                                # normalization even when values are
                                # identical (r9 verdict item 1)
                                F.element_at(a3, b)
                                .cast("string")
                                .alias("authority_raw"),
                                F.round(
                                    F.element_at(a3, b).cast("double")
                                    / tot.cast("double"),
                                    12,
                                ).alias("authority"),
                            ),
                        ),
                    ),
                ),
            ),
        ))

    return row.select(F.explode(_readout(F.col("m0"))).alias("s")).select(
        F.col("s.brand").alias("brand"),
        F.col("s.degree").alias("degree"),
        F.col("s.authority_raw").alias("authority_raw"),
        F.col("s.authority").alias("authority"),
    )
