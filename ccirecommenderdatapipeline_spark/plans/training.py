"""Training-run data-prep operators: deterministic global example ordering,
temperature-weighted epoch resampling, bigram-LM document scoring, and
SemDeDup-style centroid-blocked semantic dedup.

These extend the north-star LLM-pipeline surface (SURVEY.md §6 /
reference daily_function.py's per-symbol batching analog): once a corpus is
cleaned and deduplicated, a trainer still needs (a) a reproducible global
shuffle order, (b) a source-mixture upsampling schedule, (c) a cheap LM
perplexity proxy for quality filtering, and (d) embedding-level semantic
dedup blocked by cluster (SemDeDup, Abbas et al. 2023) rather than by
exact-duplicate cosine.

Determinism contracts follow the repo conventions: md5 hex is identical
across Spark and DuckDB; dot products are sequential folds
(operators/vectors.py); transcendentals (ln) are rounded per-term BEFORE the
ordered sequential fold so a ≤1-ulp libm difference cannot reach the hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..operators.windows import bounded_window
from pyspark.storagelevel import StorageLevel

from ..operators.lnq import LN_UNIT_SCALE, LN_UNIT_SCALE_F, ln_units, ln_units_sql
from ..operators.text import tokens
from ..operators.vectors import assign_to_centroids, cosine, normalized_vectors
from ..sources.tables import load_table
from .quality import MIX_BUDGET
from .text import _TOKS as TOKS_SQL
from .registry import query
from .vectors import DEDUP_COS, VECS_CTE, _dot_sql

SHUFFLE_SEED = "s42:"   # seed prefix baked into the shuffle key
MIX_SEED = "mix:"       # seed prefix for remainder-doc selection
RANK_HEX_CHARS = 2      # md5-prefix chars -> 16**2 = 256 two-phase rank buckets


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def two_phase_rank(
    df: DataFrame,
    key_col: str,
    part_cols: tuple[str, ...] = (),
    id_col: str = "doc_id",
    out: str = "rk",
    sum_col: str | None = None,
    sum_out: str = "rsum",
    bucket: Column | None = None,
) -> DataFrame:
    """1-based dense position of each row within ``part_cols`` ordered by
    ``(key_col, id_col)`` — WITHOUT a single-task global sort.

    A plain ``ROW_NUMBER() OVER (PARTITION BY part ORDER BY key)`` serializes
    each partition group into ONE task — a global shuffle order (no
    partition cols) would rank 100 TB on one thread. Instead, the same
    two-phase shape as corpus._with_start_tok:

    1. bucket rows by the first two hex chars of ``key_col`` (md5 hex is
       uniform, and lowercase-hex lexicographic order == numeric order, so
       bucket order is consistent with key order);
    2. row_number within (part, bucket) — parallelism is |part| x 256,
       each task ~1/256 of a group;
    3. per-(part, bucket) counts -> cumulative bucket offsets over the tiny
       offsets table;
    4. broadcast offsets back, rank = offset + within-bucket row_number.

    With ``sum_col``, additionally emits ``sum_out``: the INCLUSIVE running
    sum of ``sum_col`` in the same global order, via the identical bucket
    decomposition (within-bucket running sums + cumulative bucket totals).

    ``bucket`` overrides the default md5-prefix bucketing with any integer
    expression MONOTONE in ``key_col`` (rows sharing a key value must share
    a bucket) — e.g. ``floor(value)`` for a numeric key whose range is
    known; the tie-break column then resolves entirely within one bucket.
    A NULL bucket value is coalesced to a sentinel below every real bucket
    (long min), consistent with Spark's default ASC NULLS FIRST key order —
    a NULL key must map to a NULL/minimal bucket for the monotonicity
    contract to hold, and rows are ranked, never silently dropped
    (the inner equi-join on ``_bucket`` would not match NULL).

    ORACLE CONTRACT (ADVICE r7): Spark orders ASC NULLS FIRST but DuckDB's
    plain ``ORDER BY`` defaults to NULLS LAST, so a NULLABLE ``key_col``
    ranks NULL rows first here and last in a plain-ordered oracle — a
    silent rank mismatch. Every current caller passes a provably non-null
    key (md5 hex, c_acctbal, counts, dates); a future caller with a
    nullable key MUST either pre-filter/coalesce NULLs out of ``key_col``
    or spell ``ORDER BY key NULLS FIRST`` in its paired oracle window.
    The NULL-bucket sentinel above exists for the ``bucket=`` override
    (a non-null key whose bucket expression can be NULL), not as license
    to rank NULL keys against a plain-ordered oracle.

    Integer arithmetic only — bit-identical to the one-window oracle form.

    Cache contract: the bucketed input is persisted because THREE subtrees
    consume it (within-bucket window, per-bucket counts, final join). The
    harness is expected to ``spark.catalog.clearCache()`` between queries
    (tools/check_oracle.py does; bench.py deliberately keeps caches warm
    for plan-matched reuse within a session) — pinned by
    tests/test_plans.py::test_clear_cache_releases_plan_persists.
    """
    if bucket is None:
        bucket = F.conv(
            F.substring(F.col(key_col), 1, RANK_HEX_CHARS), 16, 10
        ).cast("long")
    bucket = F.coalesce(bucket.cast("long"), F.lit(-(1 << 63)).cast("long"))
    df = df.withColumn("_bucket", bucket).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    w_in = Window.partitionBy(*part_cols, "_bucket").orderBy(key_col, id_col)
    within = df.withColumn("_rn", F.row_number().over(w_in).cast("long"))
    aggs = [F.count("*").alias("_bn")]
    if sum_col is not None:
        within = within.withColumn(
            "_rs",
            F.sum(sum_col)
            .over(w_in.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        aggs.append(F.sum(sum_col).alias("_bs"))
    counts = df.groupBy(*part_cols, "_bucket").agg(*aggs)
    # the offsets window runs over the per-bucket COUNTS table (<= |parts|
    # x 256 rows by construction) — bounded_window documents that and
    # keeps the audit's unpartitioned-window flag meaningful
    w_off = (
        Window.partitionBy(*part_cols).orderBy("_bucket")
        if part_cols
        else bounded_window(
            "_bucket",
            bound="per-bucket counts table: <= 256 rows per partition group",
        )
    ).rowsBetween(Window.unboundedPreceding, -1)
    off_cols = [
        *part_cols,
        "_bucket",
        F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).alias("_boff"),
    ]
    if sum_col is not None:
        off_cols.append(
            F.coalesce(F.sum("_bs").over(w_off), F.lit(0)).alias("_bsoff")
        )
    offsets = counts.select(*off_cols)
    joined = within.join(F.broadcast(offsets), [*part_cols, "_bucket"]).withColumn(
        out, (F.col("_boff") + F.col("_rn")).cast("long")
    )
    if sum_col is not None:
        joined = joined.withColumn(
            sum_out, (F.col("_bsoff") + F.col("_rs")).cast("long")
        ).drop("_rs", "_bsoff")
    return joined.drop("_bucket", "_rn", "_boff")


# --- 1. deterministic global training order ---------------------------------

@query(
    "training_order_shuffle",
    oracle=f"""
SELECT doc_id, source,
       md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
            ORDER BY md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS pos
FROM documents
""",
)
def q_training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-data order: every document gets a dense
    1-based position in md5(seed || doc_id) order — the seeded shuffle a
    trainer replays across restarts. The oracle is one global window; the
    Spark plan is the two-phase bucketed rank (see two_phase_rank) so no
    single task ever owns the whole corpus."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    return two_phase_rank(d, "shuffle_key", out="pos").select(
        "doc_id", "source", "shuffle_key", "pos"
    )


# --- 2. temperature-weighted epoch resampling --------------------------------

@query(
    "mixture_resample",
    oracle=f"""
WITH c AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), d AS (
    SELECT list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list_sort(list(sqrt(CAST(n_docs AS DOUBLE))))),
               (a, b) -> a + b) AS denom
    FROM c
), t AS (
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / denom * {MIX_BUDGET})
                AS BIGINT) AS target_docs
    FROM c, d
), r AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('{MIX_SEED}' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
    FROM documents
), rep AS (
    SELECT r.doc_id, r.source, t.target_docs,
           CAST(t.target_docs // t.n_docs
                + CASE WHEN r.rk <= t.target_docs % t.n_docs THEN 1 ELSE 0 END
                AS INTEGER) AS n_repeats
    FROM r JOIN t USING (source)
)
SELECT doc_id, source, n_repeats, CAST(u.e AS INTEGER) AS epoch
FROM rep, UNNEST(generate_series(1, n_repeats)) AS u(e)
WHERE n_repeats >= 1
""",
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized mixture schedule: corpus_mix's sqrt-temperature targets
    turned into per-document integer repeat counts (floor share for every
    doc, the remainder assigned to the seeded-hash-lowest ``rk`` docs of
    each source), then exploded to one row per (doc, epoch) — the exact
    expansion a data loader consumes. Repeat assignment is integer
    arithmetic on corpus_mix's driver-green targets; the per-source rank is
    the two-phase bucketed form so a 100 TB source never ranks on one task;
    the explode is map-side (sequence guarded to n_repeats >= 1, the
    doc_chunking empty-boundary lesson)."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    denom = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt(F.col("n_docs").cast("double")))),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("denom")
    )
    targets = counts.crossJoin(F.broadcast(denom)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.floor(
            F.sqrt(F.col("n_docs").cast("double")) / F.col("denom") * MIX_BUDGET
        )
        .cast("long")
        .alias("target_docs"),
    )
    keyed = d.select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit(MIX_SEED), F.col("doc_id").cast("string"))).alias("_k"),
    )
    ranked = two_phase_rank(keyed, "_k", part_cols=("source",), out="rk")
    rep = ranked.join(F.broadcast(targets), "source").select(
        "doc_id",
        "source",
        (
            F.expr("target_docs div n_docs")
            + F.when(F.col("rk") <= F.col("target_docs") % F.col("n_docs"), 1)
            .otherwise(0)
        )
        .cast("int")
        .alias("n_repeats"),
    )
    return (
        rep.filter(F.col("n_repeats") >= 1)
        .select(
            "doc_id",
            "source",
            "n_repeats",
            F.explode(F.sequence(F.lit(1), F.col("n_repeats"))).alias("epoch"),
        )
        .select("doc_id", "source", "n_repeats", F.col("epoch").cast("int").alias("epoch"))
    )


# --- 3. bigram-LM perplexity proxy -------------------------------------------

# single source of truth for the oracle-side tokenizer: plans.text._TOKS is
# the SQL twin of operators.text.tokens — every oracle below builds on it so
# a tokenizer change lands in exactly one place per engine
_PPL_TOK_CTE = f"""
tok AS (
    SELECT doc_id, {TOKS_SQL} AS toks
    FROM documents
)
"""


_ppl_lnu = ln_units_sql("(c2.c2 + 1.0) / (c1.c1 + vocab.v)")


@query(
    "bigram_perplexity",
    oracle=f"""
WITH {_PPL_TOK_CTE},
big AS (
    SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
           toks[CAST(r.i AS INTEGER)] AS w1,
           toks[CAST(r.i AS INTEGER) + 1] AS w2
    FROM tok, UNNEST(range(1, len(toks))) AS r(i)
    WHERE len(toks) >= 2
), c2 AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
), c1 AS (
    SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), vocab AS (
    SELECT CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS v
    FROM (SELECT UNNEST(toks) AS tok FROM tok) t
), scored AS (
    SELECT b.doc_id,
           {_ppl_lnu} AS logp_units
    FROM big b
    JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
    JOIN c1 ON b.w1 = c1.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-CAST(SUM(logp_units) AS DOUBLE) / COUNT(*)
             / {LN_UNIT_SCALE}.0, 4) AS avg_nll
FROM scored
GROUP BY doc_id
""",
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one-smoothed
    corpus bigram LM — the classic cheap perplexity proxy for quality
    filtering (high avg_nll = unusual text). P(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V). Every bigram's logp is quantized to integer nano-nats
    (operators/lnq.py, the r11 ln-quantization rule), so the per-doc sum
    is exact ASSOCIATIVE integer math — the former position-ordered
    collect_list/array_sort fold is gone entirely (integer addition
    commutes; a <=1-ulp libm ln() difference is confined to the one
    quantization boundary per bigram). Scale shape: bigram counts are
    map-combinable hash aggs; the count join shuffles on (w1, w2); V is
    a broadcast one-row agg; the per-doc re-agg is a plain SUM — no
    per-doc struct list is ever materialized (the r11 replan also
    removed that memory term)."""
    d = _docs(spark, sf_dir)
    # tokenize ONCE: vocab (all docs) and the bigram generator (docs with
    # >= 2 tokens) share the persisted token table instead of re-running the
    # regex pass per consumer (the distinctive_terms audit lesson)
    alltok = d.select("doc_id", tokens(F.col("text")).alias("toks")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    tok = alltok.filter(F.size("toks") >= 2)
    n = F.size("toks")
    big = tok.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("w1"),
                F.slice(F.col("toks"), 2, n - 1).alias("w2"),
            )
        ).alias("pos", "bg"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.col("bg.w1").alias("w1"),
        F.col("bg.w2").alias("w2"),
    )
    big = big.persist(StorageLevel.MEMORY_AND_DISK)  # counts + scoring reuse
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = alltok.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            ln_units(
                (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
            ).alias("logp_units"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(
            -F.sum("logp_units").cast("double")
            / F.count("*")
            / F.lit(LN_UNIT_SCALE_F),
            4,
        ).alias("avg_nll"),
    )


# --- 4. SemDeDup: centroid-blocked semantic dedup ----------------------------

@query(
    "semantic_dedup",
    oracle="WITH " + VECS_CTE.replace(
        "FROM embeddings",
        """FROM (SELECT vec_id, label, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000, label, embedding FROM embeddings)""",
        1,
    )
    + f"""
, k AS (
    SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS kk FROM n
), cents AS (
    SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
    WHERE vec_id < (SELECT kk FROM k)
), assign AS (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY {_dot_sql("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC,
                            c.cid) AS rn
        FROM n CROSS JOIN cents c) s
    WHERE rn = 1
), m AS (
    SELECT a.cid, n.vec_id, n.v, n.nrm FROM assign a JOIN n USING (vec_id)
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid,
       {_dot_sql("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {_dot_sql("a.v", "b.v")} / (a.nrm * b.nrm) >= {DEDUP_COS}
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign every embedding to its nearest
    IVF centroid, then find near-duplicate pairs WITHIN each cluster only —
    the blocking key is learned (cluster id), not a metadata label like
    embedding_dedup_cosine's. Duplicate injection mirrors the recrawl
    fixture. Scale shape: assignment is a broadcast map-only stage
    (centroids are tiny); pair-gen is quadratic only within a cluster, and
    the codebook size is WIRED to the corpus — k = ceil(sqrt(N)) computed
    as a scalar aggregate on both engines (no fixture constant, no driver
    collect) — so expected block size is ~sqrt(N) and within-block pair-gen
    stays ~N total, the same contract as the LSH band tables. Cosines are
    sequential-fold doubles, bit-identical to the oracle."""
    return _semantic_dedup_plan(spark, sf_dir, k=None)


def _semantic_dedup_plan(spark: SparkSession, sf_dir: str, k: int | None) -> DataFrame:
    """SemDeDup plan builder. ``k=None`` derives the codebook size from the
    corpus (ceil(sqrt(N)) via a broadcast scalar join — stays declarative);
    an explicit ``k`` pins a fixed codebook (used by the recall-pinning
    test to compare against the legacy 16-centroid form)."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.unionByName(
        e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    )
    # norms feed the centroid table, the assignment cross join, and both
    # pair sides — persist so the plan reuses ONE scan (audited: 12 parquet
    # scans without this)
    nrm = normalized_vectors(base).persist(StorageLevel.MEMORY_AND_DISK)
    if k is None:
        kdf = nrm.agg(F.ceil(F.sqrt(F.count("*"))).cast("long").alias("_k"))
        cents = (
            nrm.crossJoin(F.broadcast(kdf))
            .filter(F.col("vec_id") < F.col("_k"))
            .drop("_k")
        )
    else:
        cents = nrm.filter(F.col("vec_id") < k)
    assigned = assign_to_centroids(nrm, cents)
    m = assigned.join(nrm, "vec_id").select("cid", "vec_id", "v", "nrm")
    a = m.select(
        F.col("cid"),
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = m.select(
        F.col("cid"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            "cid",
            cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= DEDUP_COS)
    )


# --- 5. BPE first-merge candidates -------------------------------------------

BPE_TOP = 10


@query(
    "bpe_merge_pairs",
    oracle=f"""
WITH {_PPL_TOK_CTE}, words AS (
    SELECT t.w AS word, CAST(COUNT(*) AS BIGINT) AS wc
    FROM (SELECT UNNEST(toks) AS w FROM tok) t
    GROUP BY t.w
), pairs AS (
    SELECT substr(word, CAST(r.i AS INTEGER), 2) AS pair, wc, word
    FROM words, UNNEST(range(1, len(word))) AS r(i)
    WHERE len(word) >= 2
), agg AS (
    SELECT pair,
           CAST(SUM(wc) AS BIGINT)              AS pair_count,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
    FROM pairs GROUP BY pair
), ranked AS (
    SELECT pair, pair_count, n_words,
           CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INTEGER)
               AS rank
    FROM agg
)
SELECT pair, pair_count, n_words, rank FROM ranked WHERE rank <= {BPE_TOP}
""",
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round: the {BPE_TOP} most frequent adjacent character
    pairs across the corpus, weighted by word occurrence — the argmax a BPE
    tokenizer trainer merges first. Scale shape: the word-frequency table is
    the only corpus-sized agg (map-combinable); pair generation explodes the
    DISTINCT-word table (vocabulary-sized, not corpus-sized — the standard
    BPE trick), and the final ranking windows over at most 26^2 candidate
    pairs (alpha alphabet), so the unpartitioned window is bounded tiny."""
    d = _docs(spark, sf_dir)
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wc"))
    )
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            "word",
            "wc",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(
            F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), "wc", "word"
        )
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("wc").cast("long").alias("pair_count"),
        F.countDistinct("word").cast("long").alias("n_words"),
    )
    w = bounded_window(
        F.desc("pair_count"), F.asc("pair"),
        bound="per-pair aggregate of the word vocabulary: <= |char bigrams|",
        queries=("bpe_merge_pairs",),
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BPE_TOP)
    )


# --- 6. end-to-end training-file pipeline ------------------------------------

PIPE_MIN_CHARS = 100    # light quality gate (full gates: quality_filtered_corpus)
PIPE_LANG = "en"
PIPE_CTX = 2048         # context-window token budget for binning


@query(
    "training_pipeline",
    oracle=f"""
WITH crawl AS (
    SELECT doc_id, source, lang, n_chars, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, 'recrawl', lang, n_chars, text FROM documents
), kept AS (
    SELECT doc_id, source, text FROM crawl
    WHERE lang = '{PIPE_LANG}' AND n_chars >= {PIPE_MIN_CHARS}
), canon AS (
    SELECT doc_id, source, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
            AS rn
        FROM kept) s
    WHERE rn = 1
), sized AS (
    SELECT doc_id, source,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
           md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM canon
), ord AS (
    SELECT doc_id, source, n_tokens, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
               AS pos,
           CAST(SUM(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens
                AS BIGINT) AS start_tok
    FROM sized
)
SELECT doc_id, source, n_tokens, pos, start_tok,
       CAST(start_tok // {PIPE_CTX} AS BIGINT) AS first_bin,
       CAST((start_tok + n_tokens - 1) // {PIPE_CTX} AS BIGINT) AS last_bin
FROM ord WHERE n_tokens >= 1
""",
)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end train-file prep job, chaining this module's stages the
    way a real run would: crawl + recrawl union → language/length quality
    gate → exact dedup (md5 canon, lowest doc_id wins) → seeded global
    shuffle order → token layout (each doc's start offset and context-window
    bins IN SHUFFLE ORDER — the byte layout of the final training file).
    Every wide step is scale-safe: the gate and tokenization are map-side,
    dedup is a hash-keyed keep-first, and BOTH the global position and the
    running token offset come from one two-phase bucketed pass
    (two_phase_rank with sum_col) — no single-task sort anywhere. Cites the
    reference's daily batch assembly (daily_function.py:127-133) for the
    keep-first merge semantics."""
    d = _docs(spark, sf_dir)
    crawl = d.select("doc_id", "source", "lang", "n_chars", "text").unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.lit("recrawl").alias("source"),
            "lang",
            "n_chars",
            "text",
        )
    )
    kept = crawl.filter(
        (F.col("lang") == PIPE_LANG) & (F.col("n_chars") >= PIPE_MIN_CHARS)
    )
    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canon = (
        kept.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    sized = canon.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    laid = two_phase_rank(
        sized, "shuffle_key", out="pos", sum_col="n_tokens", sum_out="_cum"
    ).withColumn("start_tok", (F.col("_cum") - F.col("n_tokens")).cast("long"))
    return laid.filter(F.col("n_tokens") >= 1).select(
        "doc_id",
        "source",
        "n_tokens",
        "pos",
        "start_tok",
        F.expr(f"start_tok div {PIPE_CTX}").cast("long").alias("first_bin"),
        F.expr(f"(start_tok + n_tokens - 1) div {PIPE_CTX}")
        .cast("long")
        .alias("last_bin"),
    )


# --- 7. greedy per-source selection under a token budget ---------------------

SEL_SEED = "b7:"      # seed prefix for the selection order key
# POLICY constant, not a scale parameter: a token budget is the USER'S
# absolute input ("draw 50B tokens per source"), so it does not track the
# corpus; the plan stays two-phase-parallel at any corpus-to-budget ratio.
TOKEN_BUDGET = 800    # tokens drawn per source


@query(
    "token_budget_selection",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source,
           CAST(len({{toks_sql}}) AS BIGINT) AS n_tokens,
           md5('{SEL_SEED}' || CAST(doc_id AS VARCHAR)) AS sel_key
    FROM documents
), ranked AS (
    SELECT doc_id, source, n_tokens,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rk,
           CAST(SUM(n_tokens) OVER (
                PARTITION BY source ORDER BY sel_key, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM toks
    WINDOW w AS (PARTITION BY source ORDER BY sel_key, doc_id)
)
SELECT doc_id, source, n_tokens, rk, cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
""".replace("{toks_sql}", TOKS_SQL),
)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy prefix selection under a PER-SOURCE token budget — the
    "sample K tokens (not K docs) from each source" step of mixture
    construction: docs are laid out in a seeded deterministic order per
    source and taken while the running token sum stays within the budget
    (so the draw is reproducible and token-exact, unlike a doc-count
    quota over variable-length docs; mixture_resample's doc-count
    temperature mix is the sibling).

    100-TB shape: the order key is md5-uniform, so the rank AND the
    inclusive running token sum both ride ``two_phase_rank``'s bucketed
    two-phase decomposition — parallelism |source| x 256, no per-source
    single-task window — and the budget cut is a map-side filter on the
    running sum. The naive one-window oracle replays it exactly."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.md5(
            F.concat(F.lit(SEL_SEED), F.col("doc_id").cast("string"))
        ).alias("sel_key"),
    )
    ranked = two_phase_rank(
        sized,
        "sel_key",
        part_cols=("source",),
        out="rk",
        sum_col="n_tokens",
        sum_out="cum_tokens",
    )
    return ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens", "rk", "cum_tokens"
    )


# --- Full-batch logistic-regression gradient step ----------------------------

GD_W = {"bias": 0.05, "f_acctbal": -0.4, "f_nation": 0.2}  # frozen w_t
GD_LR = 0.5          # learning rate for the reported w_{t+1}
GD_Z_DP = 9          # logit rounding before exp (libm-input pinning)
GD_SIG_DP = 10       # sigmoid rounding after exp (1-ulp libm guard)
GD_C_DP = 12         # per-row GRADIENT contribution rounding (no ln there)
# NLL ln() quantized to integer nano-nats (operators/lnq.py, r11 rule):
# with y in {0,1} each row's NLL is exactly one ln term, so the per-batch
# NLL numerator is an exact BIGINT sum
_GD_SIG_LNU = ln_units_sql("sig")
_GD_1MSIG_LNU = ln_units_sql("1.0 - sig")


@query(
    "logreg_gd_step",
    oracle=f"""
WITH f AS (
    SELECT c_acctbal / 10000.0 AS f_acctbal,
           c_nationkey / 25.0 AS f_nation,
           CAST(c_mktsegment = 'BUILDING' AS INT) AS y
    FROM customer
), z AS (
    SELECT *, ROUND({GD_W['bias']} + {GD_W['f_acctbal']} * f_acctbal
                    + {GD_W['f_nation']} * f_nation, {GD_Z_DP}) AS zz FROM f
), s AS (
    SELECT *, ROUND(1.0 / (1.0 + exp(-zz)), {GD_SIG_DP}) AS sig FROM z
), e AS (
    SELECT f_acctbal, f_nation, sig - y AS err,
           -(y * {_GD_SIG_LNU} + (1 - y) * {_GD_1MSIG_LNU}) AS nll_u
    FROM s
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(nll_u) AS DOUBLE) / COUNT(*)
                 / {LN_UNIT_SCALE}.0, 8) AS mean_nll
    FROM e
), g AS (
    SELECT 'bias' AS feature,
           SUM(CAST(ROUND(err, {GD_C_DP}) AS DECIMAL(28,{GD_C_DP}))) AS sc
    FROM e
    UNION ALL
    SELECT 'f_acctbal',
           SUM(CAST(ROUND(f_acctbal * err, {GD_C_DP})
                    AS DECIMAL(28,{GD_C_DP}))) FROM e
    UNION ALL
    SELECT 'f_nation',
           SUM(CAST(ROUND(f_nation * err, {GD_C_DP})
                    AS DECIMAL(28,{GD_C_DP}))) FROM e
), w AS (
    SELECT feature, n,
           ROUND(CAST(sc AS DOUBLE) / n, 8) AS grad,
           CAST(CASE feature
                WHEN 'bias' THEN {GD_W['bias']}
                WHEN 'f_acctbal' THEN {GD_W['f_acctbal']}
                ELSE {GD_W['f_nation']} END AS DOUBLE) AS w_old,
           mean_nll
    FROM g CROSS JOIN tot
)
SELECT feature, n, grad, w_old,
       ROUND(w_old - {GD_LR} * grad, 8) AS w_new, mean_nll
FROM w
""",
)
def q_logreg_gd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full-batch gradient-descent step for logistic regression — the
    training-side sibling of ``quality_logreg_score`` (frozen-coefficient
    inference): grad_j = (1/n) * sum_i x_ij (sigmoid(w.x_i) - y_i), plus
    the mean negative log-likelihood at w_t. This is the allreduce shape
    of distributed full-batch GD: each partition folds its rows into J
    per-feature partial sums (map-combinable), one J-row reduce, and the
    driver-sized result carries the updated weights w_{t+1} = w_t -
    lr * grad.

    Determinism contract (cf. ``corpus_drift_kl``): the logit is a fixed
    left-to-right double expression rounded at {GD_Z_DP}dp BEFORE exp so
    both engines hand libm the identical double; sigmoid is re-rounded at
    {GD_SIG_DP}dp after (1-ulp guard); the NLL ln is quantized to
    integer nano-nats (r11 rule) so the NLL numerator is an exact BIGINT
    sum; gradient contributions (no transcendental) round at {GD_C_DP}dp
    into DECIMAL(28,{GD_C_DP}) — order-independent, so the gradient is
    bit-stable under any partitioning.

    100-TB shape: one customer scan; ``stack`` unpivots each row to its J
    feature contributions inside the same stage (no second scan, no
    shuffle of raw features); the shuffle carries J*P partial sums. The
    NLL aggregate reuses the scan and broadcasts back as a scalar."""
    w0 = {k: F.lit(v) for k, v in GD_W.items()}
    f = load_table(spark, sf_dir, "customer").select(
        (F.col("c_acctbal") / F.lit(10000.0)).alias("f_acctbal"),
        (F.col("c_nationkey") / F.lit(25.0)).alias("f_nation"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
    )
    z = f.withColumn(
        "zz",
        F.round(
            w0["bias"]
            + w0["f_acctbal"] * F.col("f_acctbal")
            + w0["f_nation"] * F.col("f_nation"),
            GD_Z_DP,
        ),
    )
    s = z.withColumn(
        "sig", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("zz"))), GD_SIG_DP)
    )
    dec = f"decimal(28,{GD_C_DP})"
    e = s.select(
        "f_acctbal",
        "f_nation",
        (F.col("sig") - F.col("y")).alias("err"),
        (
            -(
                F.col("y") * ln_units(F.col("sig"))
                + (F.lit(1) - F.col("y"))
                * ln_units(F.lit(1.0) - F.col("sig"))
            )
        ).alias("nll_u"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = e.agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.sum("nll_u").cast("double")
            / F.count("*")
            / F.lit(LN_UNIT_SCALE_F),
            8,
        ).alias("mean_nll"),
    )
    unpiv = e.select(
        F.expr(
            "stack(3, 'bias', CAST(1.0 AS DOUBLE),"
            " 'f_acctbal', f_acctbal, 'f_nation', f_nation) AS (feature, x)"
        ),
        "err",
    )
    g = unpiv.groupBy("feature").agg(
        F.sum(F.round(F.col("x") * F.col("err"), GD_C_DP).cast(dec)).alias("sc")
    )
    w_old = F.element_at(
        F.create_map(
            *[c for k, v in GD_W.items() for c in (F.lit(k), F.lit(float(v)))]
        ),
        F.col("feature"),
    )
    grad = F.round(F.col("sc").cast("double") / F.col("n"), 8)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "feature",
            "n",
            grad.alias("grad"),
            w_old.alias("w_old"),
            F.round(w_old - F.lit(GD_LR) * grad, 8).alias("w_new"),
            "mean_nll",
        )
    )


# --- Calibration bins for the frozen logreg scorer ---------------------------

CAL_BINS = 20   # reliability-diagram resolution: 1/20-wide score bins


@query(
    "logreg_calibration_bins",
    oracle=f"""
WITH f AS (
    SELECT c_acctbal / 10000.0 AS f_acctbal,
           c_nationkey / 25.0 AS f_nation,
           CAST(c_mktsegment = 'BUILDING' AS INT) AS y
    FROM customer
), z AS (
    SELECT *, ROUND({GD_W['bias']} + {GD_W['f_acctbal']} * f_acctbal
                    + {GD_W['f_nation']} * f_nation, {GD_Z_DP}) AS zz FROM f
), s AS (
    SELECT y, ROUND(1.0 / (1.0 + exp(-zz)), {GD_SIG_DP}) AS sig FROM z
), b AS (
    SELECT LEAST(CAST(FLOOR(sig * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1}) AS bin,
           y, CAST(sig AS DECIMAL(28,{GD_SIG_DP})) AS sig_d
    FROM s
), agg AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           SUM(sig_d) AS conf_sum
    FROM b GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM agg)
SELECT bin, n, n_pos,
       ROUND(CAST(conf_sum AS DOUBLE) / n, 8) AS mean_conf,
       ROUND(n_pos / CAST(n AS DOUBLE), 8) AS frac_pos,
       ROUND(abs(n_pos / CAST(n AS DOUBLE) - CAST(conf_sum AS DOUBLE) / n)
             * n / tot.nt, 8) AS ece_contrib
FROM agg CROSS JOIN tot
""",
)
def q_logreg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / calibration bins for the frozen logistic
    scorer behind ``logreg_gd_step``: predicted probabilities are split
    into {CAL_BINS} equal-width bins and each bin reports mean predicted
    confidence vs observed positive rate, plus its contribution to the
    Expected Calibration Error (sum of ece_contrib = ECE) — the model-QA
    readout a scoring pipeline materializes next to batch inference
    (``quality_logreg_score``).

    Determinism: sigmoid follows the exact rounding schedule of
    ``logreg_gd_step`` (z@{GD_Z_DP}dp pre-exp, sig@{GD_SIG_DP}dp after);
    bin ids are FLOOR on identical doubles; per-bin confidence sums run
    as DECIMAL(28,{GD_SIG_DP}) — order-independent.

    100-TB shape: one scan, map-side score+bin, hash agg on a
    {CAL_BINS}-bounded key; the corpus total re-enters broadcast."""
    f = load_table(spark, sf_dir, "customer").select(
        (F.col("c_acctbal") / F.lit(10000.0)).alias("f_acctbal"),
        (F.col("c_nationkey") / F.lit(25.0)).alias("f_nation"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
    )
    zz = F.round(
        F.lit(GD_W["bias"])
        + F.lit(GD_W["f_acctbal"]) * F.col("f_acctbal")
        + F.lit(GD_W["f_nation"]) * F.col("f_nation"),
        GD_Z_DP,
    )
    sig = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zz)), GD_SIG_DP)
    b = f.select(
        F.least(
            F.floor(sig * CAL_BINS).cast("long"), F.lit(CAL_BINS - 1).cast("long")
        ).alias("bin"),
        "y",
        sig.cast(f"decimal(28,{GD_SIG_DP})").alias("sig_d"),
    )
    agg = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("sig_d").alias("conf_sum"),
    )
    tot = agg.agg(F.sum("n").cast("long").alias("nt"))
    mean_conf = F.col("conf_sum").cast("double") / F.col("n")
    frac_pos = F.col("n_pos") / F.col("n").cast("double")
    return agg.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        F.round(mean_conf, 8).alias("mean_conf"),
        F.round(frac_pos, 8).alias("frac_pos"),
        F.round(F.abs(frac_pos - mean_conf) * F.col("n") / F.col("nt"), 8).alias(
            "ece_contrib"
        ),
    )


# --- Leave-one-out target encoding -------------------------------------------


@query(
    "target_encoding_loo",
    oracle="""
WITH f AS (
    SELECT c_custkey, c_nationkey,
           CAST(c_mktsegment = 'BUILDING' AS INT) AS y
    FROM customer
), g AS (
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS s
    FROM f GROUP BY 1
)
SELECT f.c_custkey, f.c_nationkey, f.y,
       CASE WHEN g.n > 1
            THEN ROUND((g.s - f.y) / CAST(g.n - 1 AS DOUBLE), 8) END AS loo_enc
FROM f JOIN g USING (c_nationkey)
""",
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature (nation vs
    the BUILDING label): each row's encoding is the category's positive
    rate EXCLUDING the row itself, (sum_y - y_i) / (n - 1) — the standard
    leakage-free way to feed a high-cardinality categorical to a model
    (plain mean encoding leaks each row's own label; LOO is what
    CatBoost-style pipelines materialize). Singleton categories encode
    NULL rather than a degenerate 0/0.

    Determinism: category sums are exact BIGINTs computed once
    (map-combinable) and re-joined broadcast; each row then performs one
    exact int subtraction and one IEEE division — no per-row state, no
    summation-order exposure.

    100-TB shape: one scan -> bounded-key (category) agg -> broadcast
    join back over the same scan; the feature table streams out
    partition-parallel with zero additional shuffles."""
    f = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
    )
    g = f.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("s")
    )
    return f.join(F.broadcast(g), "c_nationkey").select(
        "c_custkey",
        "c_nationkey",
        "y",
        F.when(
            F.col("n") > 1,
            F.round(
                (F.col("s") - F.col("y")) / (F.col("n") - 1).cast("double"), 8
            ),
        ).alias("loo_enc"),
    )


# --- Inverse-propensity-weighted treatment effect ----------------------------

IPW_W_DP = 10    # per-row weight rounding after the sigmoid


@query(
    "propensity_ipw",
    oracle=f"""
WITH f AS (
    SELECT c_acctbal / 10000.0 AS f1, c_nationkey / 25.0 AS f2,
           CAST(c_nationkey % 2 AS INT) AS t,
           CAST(c_acctbal > 5000 AS INT) AS y
    FROM customer
), s AS (
    SELECT t, y,
           ROUND(1.0 / (1.0 + exp(-ROUND({GD_W['bias']}
                 + {GD_W['f_acctbal']} * f1
                 + {GD_W['f_nation']} * f2, {GD_Z_DP}))), {GD_SIG_DP}) AS e
    FROM f
), w AS (
    SELECT t, y,
           CASE WHEN t = 1 THEN ROUND(1.0 / e, {IPW_W_DP})
                ELSE ROUND(1.0 / (1.0 - e), {IPW_W_DP}) END AS wt
    FROM s
), agg AS (
    SELECT t,
           SUM(CAST(ROUND(wt, 12) AS DECIMAL(28,12))) AS sw,
           SUM(CAST(ROUND(wt * wt, 12) AS DECIMAL(28,12))) AS sw2,
           SUM(CAST(ROUND(wt * y, 12) AS DECIMAL(28,12))) AS swy,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w GROUP BY 1
), pv AS (
    SELECT
      MAX(CASE WHEN t = 1 THEN n END) AS n_treated,
      MAX(CASE WHEN t = 0 THEN n END) AS n_control,
      MAX(CASE WHEN t = 1 THEN ROUND(CAST(swy AS DOUBLE)
            / CAST(sw AS DOUBLE), 8) END) AS mu_treated,
      MAX(CASE WHEN t = 0 THEN ROUND(CAST(swy AS DOUBLE)
            / CAST(sw AS DOUBLE), 8) END) AS mu_control,
      MAX(CASE WHEN t = 1 THEN ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
            / CAST(sw2 AS DOUBLE), 4) END) AS ess_treated,
      MAX(CASE WHEN t = 0 THEN ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
            / CAST(sw2 AS DOUBLE), 4) END) AS ess_control
    FROM agg
)
SELECT n_treated, n_control, mu_treated, mu_control,
       ROUND(mu_treated - mu_control, 8) AS ate_ipw,
       ess_treated, ess_control
FROM pv
""",
)
def q_propensity_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Horvitz-
    Thompson / Hajek estimator): treatment = nation parity, outcome =
    high balance, propensity e(x) from the SAME frozen logistic scorer
    as ``logreg_gd_step`` — weights 1/e for treated, 1/(1-e) for
    control, ATE = weighted-mean difference, with the effective sample
    size (sum w)^2 / sum w^2 per arm (the diagnostic that catches
    propensity blow-up). The causal-inference readout an observational
    events warehouse serves next to ``ab_test_zscore``'s randomized one.

    Determinism: the sigmoid follows the gd-step rounding schedule;
    weights round at {IPW_W_DP}dp; every aggregate is a DECIMAL(28,12)
    sum of per-row rounded contributions (order-independent), and the
    final ratios are single IEEE divisions.

    100-TB shape: one scan, map-side score+weight, a 2-row hash agg,
    then a literal-width pivot — no per-row state anywhere."""
    f = load_table(spark, sf_dir, "customer").select(
        (F.col("c_acctbal") / F.lit(10000.0)).alias("f1"),
        (F.col("c_nationkey") / F.lit(25.0)).alias("f2"),
        (F.col("c_nationkey") % 2).cast("int").alias("t"),
        (F.col("c_acctbal") > 5000).cast("int").alias("y"),
    )
    e = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -F.round(
                    F.lit(GD_W["bias"])
                    + F.lit(GD_W["f_acctbal"]) * F.col("f1")
                    + F.lit(GD_W["f_nation"]) * F.col("f2"),
                    GD_Z_DP,
                )
            )
        ),
        GD_SIG_DP,
    )
    wt = F.when(F.col("t") == 1, F.round(F.lit(1.0) / e, IPW_W_DP)).otherwise(
        F.round(F.lit(1.0) / (F.lit(1.0) - e), IPW_W_DP)
    )
    dec = "decimal(28,12)"
    w = f.select("t", "y", wt.alias("wt"))
    agg = w.groupBy("t").agg(
        F.sum(F.round(F.col("wt"), 12).cast(dec)).alias("sw"),
        F.sum(F.round(F.col("wt") * F.col("wt"), 12).cast(dec)).alias("sw2"),
        F.sum(F.round(F.col("wt") * F.col("y"), 12).cast(dec)).alias("swy"),
        F.count("*").cast("long").alias("n"),
    )
    mu = F.round(F.col("swy").cast("double") / F.col("sw").cast("double"), 8)
    ess = F.round(
        F.col("sw").cast("double") * F.col("sw").cast("double")
        / F.col("sw2").cast("double"),
        4,
    )
    pv = agg.agg(
        F.max(F.when(F.col("t") == 1, F.col("n"))).alias("n_treated"),
        F.max(F.when(F.col("t") == 0, F.col("n"))).alias("n_control"),
        F.max(F.when(F.col("t") == 1, mu)).alias("mu_treated"),
        F.max(F.when(F.col("t") == 0, mu)).alias("mu_control"),
        F.max(F.when(F.col("t") == 1, ess)).alias("ess_treated"),
        F.max(F.when(F.col("t") == 0, ess)).alias("ess_control"),
    )
    return pv.select(
        "n_treated",
        "n_control",
        "mu_treated",
        "mu_control",
        F.round(F.col("mu_treated") - F.col("mu_control"), 8).alias("ate_ipw"),
        "ess_treated",
        "ess_control",
    )


# --- Split-conformal prediction calibration ----------------------------------

CONF_ALPHA_NUM = 9    # target coverage 1 - alpha = 9/10
CONF_S_DP = 10        # nonconformity score rounding (matches GD_SIG_DP)


@query(
    "conformal_calibration",
    oracle=f"""
WITH s AS (
    SELECT c_custkey, c_custkey % 2 AS arm,
           CAST(c_mktsegment = 'BUILDING' AS INT) AS y,
           ROUND(1.0 / (1.0 + exp(-ROUND({GD_W['bias']}
                 + {GD_W['f_acctbal']} * (c_acctbal / 10000.0)
                 + {GD_W['f_nation']} * (c_nationkey / 25.0),
                 {GD_Z_DP}))), {GD_SIG_DP}) AS sig
    FROM customer
), sc AS (
    SELECT c_custkey, arm, ROUND(abs(y - sig), {CONF_S_DP}) AS s FROM s
), cal AS (
    SELECT s, ROW_NUMBER() OVER (ORDER BY s, c_custkey) AS rn,
           COUNT(*) OVER () AS n
    FROM sc WHERE arm = 0
), q AS (
    SELECT MIN(CASE WHEN rn = LEAST(((n + 1) * {CONF_ALPHA_NUM} + 9) // 10, n)
                    THEN s END) AS qhat,
           CAST(MAX(n) AS BIGINT) AS n_cal,
           CAST(MAX(LEAST(((n + 1) * {CONF_ALPHA_NUM} + 9) // 10, n))
                AS BIGINT) AS k
    FROM cal
)
SELECT q.n_cal, q.k, q.qhat,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN sc.s <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
       ROUND(SUM(CASE WHEN sc.s <= q.qhat THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 8) AS coverage
FROM sc CROSS JOIN q WHERE arm = 1
GROUP BY 1, 2, 3
""",
)
def q_conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration (Vovk; Angelopoulos & Bates 2021) for
    the frozen scorer: on a calibration split (even custkeys) take the
    ceil((n+1)(1-alpha))-th smallest nonconformity score |y - sig| as
    qhat, then report realized coverage P(s <= qhat) on the disjoint
    eval split — the distribution-free uncertainty wrapper a scoring
    pipeline ships next to ``logreg_calibration_bins``'s ECE.

    The calibration order statistic uses ``two_phase_rank`` with
    bucket=floor(s*64) — the scalable global-rank decomposition (NO
    single-task sort; the r5 feature_binning lesson) — and k is pure
    integer math, so qhat is engine-exact. Scores are rounded at
    {CONF_S_DP}dp before ranking (ties broken by custkey in both
    engines); coverage is an exact count over pre-rounded doubles.

    100-TB shape: score+split are map-side; the rank is |buckets|x-
    parallel two-phase; qhat broadcasts back as a scalar."""
    s = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 2).alias("arm"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -F.round(
                        F.lit(GD_W["bias"])
                        + F.lit(GD_W["f_acctbal"]) * (F.col("c_acctbal") / 10000.0)
                        + F.lit(GD_W["f_nation"]) * (F.col("c_nationkey") / 25.0),
                        GD_Z_DP,
                    )
                )
            ),
            GD_SIG_DP,
        ).alias("sig"),
    )
    sc = s.select(
        "c_custkey",
        "arm",
        F.round(F.abs(F.col("y") - F.col("sig")), CONF_S_DP).alias("s"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cal = sc.where(F.col("arm") == 0)
    ranked = two_phase_rank(
        cal,
        "s",
        id_col="c_custkey",
        out="rn",
        bucket=F.floor(F.col("s") * 64),
    )
    n_cal_df = cal.agg(F.count("*").cast("long").alias("n_cal"))
    k_expr = F.least(
        ((F.col("n_cal") + 1) * CONF_ALPHA_NUM + 9) / 10, F.col("n_cal")
    )
    q = (
        ranked.crossJoin(F.broadcast(n_cal_df))
        .where(F.col("rn") == F.floor(k_expr).cast("long"))
        .select(
            "n_cal",
            F.floor(k_expr).cast("long").alias("k"),
            F.col("s").alias("qhat"),
        )
    )
    ev = sc.where(F.col("arm") == 1)
    return (
        ev.crossJoin(F.broadcast(q))
        .groupBy("n_cal", "k", "qhat")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("s") <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            F.round(
                F.sum(F.when(F.col("s") <= F.col("qhat"), 1).otherwise(0))
                / F.count("*").cast("double"),
                8,
            ).alias("coverage"),
        )
        .select("n_cal", "k", "qhat", "n_eval", "n_covered", "coverage")
    )


# --- Information-gain feature ranking ----------------------------------------

# entropy ln() quantized to integer nano-nats (operators/lnq.py, r11
# rule): both entropies share the denominator n (every feature covers
# every customer), so H(y), H(y|x) and their DIFFERENCE are exact
# integer numerators over n*1e9 — no contribution rounding anywhere
_IG_COND_LNU = ln_units_sql("cxy.c / CAST(cx.nx AS DOUBLE)")
_IG_Y_LNU = ln_units_sql("c / CAST(t.n AS DOUBLE)")


@query(
    "info_gain_features",
    oracle=f"""
WITH f AS (
    SELECT CAST(c_mktsegment = 'BUILDING' AS INT) AS y,
           CAST(c_nationkey AS VARCHAR) AS nation,
           c_mktsegment AS segment,
           CAST(CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS VARCHAR)
               AS acctbal_bin
    FROM customer
), u AS (
    SELECT y, 'nation' AS feature, nation AS x FROM f
    UNION ALL SELECT y, 'segment', segment FROM f
    UNION ALL SELECT y, 'acctbal_bin', acctbal_bin FROM f
), cxy AS (
    SELECT feature, x, y, CAST(COUNT(*) AS BIGINT) AS c
    FROM u GROUP BY 1, 2, 3
), cx AS (
    SELECT feature, x, CAST(SUM(c) AS BIGINT) AS nx FROM cxy GROUP BY 1, 2
), nt AS (
    SELECT feature, CAST(SUM(nx) AS BIGINT) AS n FROM cx GROUP BY 1
), hyx AS (
    SELECT cxy.feature,
           SUM(CAST(-cxy.c AS HUGEINT) * {_IG_COND_LNU}) AS num_cond,
           CAST(MAX(nt.n) AS BIGINT) AS n
    FROM cxy
    JOIN cx ON cx.feature = cxy.feature AND cx.x = cxy.x
    JOIN nt ON nt.feature = cxy.feature
    GROUP BY 1
), nv AS (
    SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_values FROM cx GROUP BY 1
), cy AS (
    SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1
), hy AS (
    SELECT SUM(CAST(-c AS HUGEINT) * {_IG_Y_LNU}) AS num_y
    FROM cy CROSS JOIN (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cy) t
)
SELECT hyx.feature, nv.n_values,
       ROUND(CAST(hy.num_y AS DOUBLE) / CAST(hyx.n AS DOUBLE)
             / {LN_UNIT_SCALE}.0, 8) AS h_y,
       ROUND(CAST(hyx.num_cond AS DOUBLE) / CAST(hyx.n AS DOUBLE)
             / {LN_UNIT_SCALE}.0, 8) AS h_y_given_x,
       ROUND(CAST(hy.num_y - hyx.num_cond AS DOUBLE) / CAST(hyx.n AS DOUBLE)
             / {LN_UNIT_SCALE}.0, 8) AS info_gain
FROM hyx JOIN nv ON nv.feature = hyx.feature CROSS JOIN hy
""",
)
def q_info_gain_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain feature ranking (the ID3/C4.5 split criterion and
    the standard filter-method feature selector): for each candidate
    categorical feature, IG = H(y) - H(y|x) in nats, where H(y|x) =
    -sum_{{x,y}} (c_xy/n) ln(c_xy/n_x) — computed for nation, market
    segment, and a coarse balance bin from ONE customer scan (stack-
    unpivot, the ``logreg_gd_step`` trick), so adding features never adds
    scans. Reports per-feature cardinality so the reader can spot
    cardinality-biased IG (the known ID3 pathology LOO encoding avoids).

    Determinism (r11 ln-quantization rule): all probabilities are exact
    int/int divisions; ln is quantized to integer nano-nats, both
    entropy numerators are exact integer sums over the shared
    denominator n, and IG's numerator is their exact integer DIFFERENCE
    — one bit-identical double division+round per readout column.

    100-TB shape: one scan -> (feature, x, y) map-combinable counts
    (key bounded by the summed feature cardinalities), then agg over the
    bounded count table; H(y) broadcasts."""
    f = load_table(spark, sf_dir, "customer").select(
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
        F.col("c_nationkey").cast("string").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 2000.0)
        .cast("long")
        .cast("string")
        .alias("acctbal_bin"),
    )
    u = f.select(
        "y",
        F.expr(
            "stack(3, 'nation', nation, 'segment', segment,"
            " 'acctbal_bin', acctbal_bin) AS (feature, x)"
        ),
    )
    cxy = u.groupBy("feature", "x", "y").agg(F.count("*").cast("long").alias("c"))
    cx = cxy.groupBy("feature", "x").agg(F.sum("c").cast("long").alias("nx"))
    nt = cx.groupBy("feature").agg(F.sum("nx").cast("long").alias("n"))
    term = (-F.col("c")).cast("decimal(38,0)") * ln_units(
        F.col("c") / F.col("nx").cast("double")
    )
    hyx = (
        cxy.join(cx, ["feature", "x"])
        .join(F.broadcast(nt), "feature")
        .groupBy("feature")
        .agg(F.sum(term).alias("num_cond"), F.max("n").cast("long").alias("n"))
    )
    nv = cx.groupBy("feature").agg(F.count("*").cast("long").alias("n_values"))
    cy = f.groupBy("y").agg(F.count("*").cast("long").alias("c"))
    tot = cy.agg(F.sum("c").cast("long").alias("n"))
    hterm = (-F.col("c")).cast("decimal(38,0)") * ln_units(
        F.col("c") / F.col("n").cast("double")
    )
    hy = cy.crossJoin(F.broadcast(tot)).agg(F.sum(hterm).alias("num_y"))
    return (
        hyx.join(F.broadcast(nv), "feature")
        .crossJoin(F.broadcast(hy))
        .select(
            "feature",
            "n_values",
            F.round(
                F.col("num_y").cast("double")
                / F.col("n").cast("double")
                / F.lit(LN_UNIT_SCALE_F),
                8,
            ).alias("h_y"),
            F.round(
                F.col("num_cond").cast("double")
                / F.col("n").cast("double")
                / F.lit(LN_UNIT_SCALE_F),
                8,
            ).alias("h_y_given_x"),
            F.round(
                (F.col("num_y") - F.col("num_cond")).cast("double")
                / F.col("n").cast("double")
                / F.lit(LN_UNIT_SCALE_F),
                8,
            ).alias("info_gain"),
        )
    )


# --- Cross-source quantile normalization --------------------------------------


@query(
    "quantile_normalize_sources",
    oracle=f"""
WITH lens AS (
    SELECT doc_id, source, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok
    FROM documents
), g AS (
    SELECT doc_id, n_tok,
           ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rg,
           COUNT(*) OVER () AS n
    FROM lens
), s AS (
    SELECT doc_id, source, n_tok,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id)
               AS r,
           COUNT(*) OVER (PARTITION BY source) AS ns
    FROM lens
), k AS (
    SELECT doc_id, source, n_tok,
           (r * (SELECT MAX(n) FROM g) + ns - 1) // ns AS tgt
    FROM s
)
SELECT k.doc_id, k.source, k.n_tok, g.n_tok AS qnorm_tok
FROM k JOIN g ON g.rg = k.tgt
""",
)
def q_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (the batch-effect correction
    of microarray fame, applied to per-source length distributions):
    each document's token count is replaced by the GLOBAL distribution's
    value at the same quantile — rank r of n_s within the source maps to
    the global order statistic at ceil(r*N/n_s) — so every source ends
    up with the same marginal distribution, the preprocessing a mixture
    trainer applies before per-source thresholds can mean the same thing
    (``corpus_drift_kl`` detects the skew; this removes it).

    BOTH ranks run through ``two_phase_rank`` with bucket=n_tok
    (monotone integer key; no single-task sort for the global rank —
    the feature_binning lesson), the target rank is pure integer math,
    and the value lookup is an equi-join on the global rank. Everything
    is exact int64 — no float leaves the plan.

    100-TB shape: two bucketed two-phase ranks (|buckets|-parallel), a
    broadcast of per-source sizes + the scalar N, and one equi-join
    whose right side is the (rank, value) pairs — rank-grain, not
    data-grain state anywhere."""
    lens = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    g = two_phase_rank(
        lens, "n_tok", id_col="doc_id", out="rg", bucket=F.col("n_tok")
    ).select("doc_id", "n_tok", "rg")
    n = lens.agg(F.count("*").cast("long").alias("n"))
    s = two_phase_rank(
        lens,
        "n_tok",
        part_cols=("source",),
        id_col="doc_id",
        out="r",
        bucket=F.col("n_tok"),
    )
    ns = lens.groupBy("source").agg(F.count("*").cast("long").alias("ns"))
    # integer ceil-div: (r*n + ns - 1) DIV ns — exact int math only
    k = (
        s.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.expr("(r * n + ns - 1) DIV ns").alias("tgt"),
        )
    )
    lookup = g.select(F.col("rg").alias("tgt"), F.col("n_tok").alias("qnorm_tok"))
    return k.join(lookup, "tgt").select("doc_id", "source", "n_tok", "qnorm_tok")


# --- Hashing-trick feature vectorization -------------------------------------

FH_DIM = 32        # hashed feature space dimension
FH_SEED = "fh1:"   # hash-stream namespace


@query(
    "feature_hashing",
    oracle=f"""
WITH feats AS (
    SELECT c_custkey AS ck, 'seg:' || c_mktsegment AS feat FROM customer
    UNION ALL
    SELECT c_custkey AS ck, 'nat:' || CAST(c_nationkey AS VARCHAR) AS feat
    FROM customer
    UNION ALL
    SELECT DISTINCT o.o_custkey AS ck, 'brand:' || p.p_brand AS feat
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
), h AS (
    SELECT ck,
           ('0x' || substr(md5('{FH_SEED}' || feat), 1, 8))::BIGINT
               % {FH_DIM} AS bucket,
           1 - 2 * (('0x' || substr(md5('{FH_SEED}' || feat), 9, 1))::BIGINT
               % 2) AS sgn
    FROM feats
)
SELECT ck, CAST(bucket AS INTEGER) AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS val
FROM h GROUP BY 1, 2
HAVING SUM(sgn) <> 0
""",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectorization (Weinberger et al., ICML 2009 —
    the fixed-width categorical encoder that needs NO vocabulary build):
    every customer feature token (market segment, nation, each distinct
    purchased brand) hashes to one of {FH_DIM} buckets with a +/-1 sign
    drawn from an independent hex digit, and the sparse vector is the
    per-(customer, bucket) signed count. The signed sum makes collisions
    unbiased in expectation — the property that lets the encoder skip the
    global vocabulary scan entirely, which IS the 100-TB win: no dictionary
    job, no broadcast of an unbounded vocab, new categories at serving
    time hash to the same space.

    Determinism: bucket and sign come from disjoint md5 hex substrings
    (the ``dp_noisy_counts`` derivation); values are exact signed BIGINT
    sums. Zero-sum cells (exact collision cancellation) are dropped on
    both sides — sparse vectors carry no explicit zeros.

    100-TB shape: the feature stream is a union of projection-only scans
    plus one distinct on (ck, brand); the vector agg is map-combinable at
    (ck, bucket) grain — <= {FH_DIM} cells per customer out of the
    combiner."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    feats = (
        c.select(
            F.col("c_custkey").alias("ck"),
            F.concat(F.lit("seg:"), F.col("c_mktsegment")).alias("feat"),
        )
        .unionByName(
            c.select(
                F.col("c_custkey").alias("ck"),
                F.concat(
                    F.lit("nat:"), F.col("c_nationkey").cast("string")
                ).alias("feat"),
            )
        )
        .unionByName(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .select(
                F.col("o_custkey").alias("ck"),
                F.concat(F.lit("brand:"), F.col("p_brand")).alias("feat"),
            )
            .distinct()
        )
    )
    md5 = F.md5(F.concat(F.lit(FH_SEED), F.col("feat")))
    h = feats.select(
        "ck",
        (F.conv(F.substring(md5, 1, 8), 16, 10).cast("long") % FH_DIM).alias(
            "bucket"
        ),
        (
            F.lit(1)
            - F.lit(2) * (F.conv(F.substring(md5, 9, 1), 16, 10).cast("long") % 2)
        ).alias("sgn"),
    )
    return (
        h.groupBy("ck", F.col("bucket").cast("int").alias("bucket"))
        .agg(F.sum("sgn").cast("long").alias("val"))
        .where(F.col("val") != 0)
    )


# --- Isotonic calibration (pool-adjacent-violators on score bins) -----------


@query(
    "isotonic_calibration",
    oracle=f"""
WITH f AS (
    SELECT c_acctbal / 10000.0 AS f_acctbal,
           c_nationkey / 25.0 AS f_nation,
           CAST(c_mktsegment = 'BUILDING' AS INT) AS y
    FROM customer
), z AS (
    SELECT *, ROUND({GD_W['bias']} + {GD_W['f_acctbal']} * f_acctbal
                    + {GD_W['f_nation']} * f_nation, {GD_Z_DP}) AS zz FROM f
), s AS (
    SELECT y, ROUND(1.0 / (1.0 + exp(-zz)), {GD_SIG_DP}) AS sig FROM z
), b AS (
    SELECT LEAST(CAST(FLOOR(sig * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1}) AS bin,
           y FROM s
), agg AS (
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos
    FROM b GROUP BY 1
), idx AS (
    SELECT bin, n, n_pos,
           CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS rk,
           CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
           CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
    FROM agg
), iv AS (
    SELECT j.rk AS j, k.rk AS k,
           (k.cp - (j.cp - j.n_pos)) / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS m
    FROM idx j JOIN idx k ON j.rk <= k.rk
), inner_min AS (
    SELECT i.rk AS i, iv.j, MIN(iv.m) AS mn
    FROM idx i JOIN iv ON iv.j <= i.rk AND iv.k >= i.rk
    GROUP BY 1, 2
), fit AS (
    SELECT i AS rk, MAX(mn) AS iso FROM inner_min GROUP BY 1
)
SELECT x.bin, x.n, x.n_pos,
       ROUND(x.n_pos / CAST(x.n AS DOUBLE), 8) AS raw_rate,
       ROUND(f2.iso, 8) AS iso_rate
FROM idx x JOIN fit f2 ON f2.rk = x.rk
""",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the frozen
    logistic scorer — the non-parametric alternative to Platt scaling
    every ranking/ads pipeline fits over a scored-and-labeled batch.
    Scores are pooled into the SAME {CAL_BINS} equal-width bins as
    ``logreg_calibration_bins``; the fitted value per bin is the
    pool-adjacent-violators solution computed in closed form via the
    minimax identity iso[i] = max_(j<=i) min_(k>=i) mean(y[j..k])
    (Ayer et al. 1955 / Robertson-Wright-Dykstra) — exact, no iteration.

    Determinism: the scorer follows logreg_gd_step's rounding schedule;
    interval means divide identical int64 prefix-sum differences in both
    engines (one IEEE division each), and min/max over identical doubles
    are order-free; ROUND 8 only at the readout.

    100-TB shape: the row-grain work is ONE scan into a {CAL_BINS}-key
    hash agg (map-combinable); the PAV minimax runs on the bin aggregate
    — O(B^3) pairs with B = {CAL_BINS}, a constant-size broadcast
    self-join, NOT a sequential sweep over rows. The classic sequential
    PAV is inherently serial; pooling to bounded bins first is what
    makes the fit distributable (and is how production systems calibrate
    at scale anyway)."""
    from ..operators.windows import bounded_window

    f = load_table(spark, sf_dir, "customer").select(
        (F.col("c_acctbal") / F.lit(10000.0)).alias("f_acctbal"),
        (F.col("c_nationkey") / F.lit(25.0)).alias("f_nation"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
    )
    zz = F.round(
        F.lit(GD_W["bias"])
        + F.lit(GD_W["f_acctbal"]) * F.col("f_acctbal")
        + F.lit(GD_W["f_nation"]) * F.col("f_nation"),
        GD_Z_DP,
    )
    sig = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zz)), GD_SIG_DP)
    agg = (
        f.select(
            F.least(
                F.floor(sig * CAL_BINS).cast("long"),
                F.lit(CAL_BINS - 1).cast("long"),
            ).alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    w = bounded_window(
        "bin",
        bound=f"score-bin aggregate: at most {CAL_BINS} rows",
        queries=("isotonic_calibration",),
    )
    idx = agg.select(
        "bin",
        "n",
        "n_pos",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("n_pos").over(w).cast("long").alias("cp"),
    ).persist()
    j = idx.select(
        F.col("rk").alias("j"),
        (F.col("cp") - F.col("n_pos")).alias("cp_lo"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
    )
    k = idx.select(
        F.col("rk").alias("k"), F.col("cp").alias("cp_hi"), F.col("cn").alias("cn_hi")
    )
    iv = (
        j.crossJoin(F.broadcast(k))
        .where(F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            (
                (F.col("cp_hi") - F.col("cp_lo"))
                / (F.col("cn_hi") - F.col("cn_lo")).cast("double")
            ).alias("m"),
        )
    )
    inner_min = (
        idx.select(F.col("rk").alias("i"))
        .crossJoin(F.broadcast(iv))
        .where((F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("m").alias("mn"))
    )
    fit = inner_min.groupBy(F.col("i").alias("rk")).agg(F.max("mn").alias("iso"))
    return idx.join(F.broadcast(fit), "rk").select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n").cast("double"), 8).alias("raw_rate"),
        F.round(F.col("iso"), 8).alias("iso_rate"),
    )


# --- Decision stump (best single split over binned features) ----------------

STUMP_BINS = 16   # equi-width bins for the continuous feature


@query(
    "decision_stump",
    oracle=f"""
WITH c AS (
    SELECT c_acctbal, c_nationkey,
           CAST(c_mktsegment = 'BUILDING' AS INT) AS y
    FROM customer
), rng AS (
    SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM c
), binned AS (
    SELECT 'acctbal' AS feature,
           LEAST(CAST(FLOOR((c.c_acctbal - r.lo) / (r.hi - r.lo)
                            * {STUMP_BINS}) AS BIGINT),
                 {STUMP_BINS - 1}) AS bin,
           y
    FROM c CROSS JOIN rng r
    UNION ALL
    SELECT 'nationkey' AS feature, CAST(c_nationkey AS BIGINT) AS bin, y
    FROM c
), agg AS (
    SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos
    FROM binned GROUP BY 1, 2
), cum AS (
    SELECT feature, bin,
           CAST(SUM(n) OVER (PARTITION BY feature ORDER BY bin)
                AS BIGINT) AS cn,
           CAST(SUM(n_pos) OVER (PARTITION BY feature ORDER BY bin)
                AS BIGINT) AS cp,
           CAST(SUM(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
           CAST(SUM(n_pos) OVER (PARTITION BY feature) AS BIGINT) AS pt,
           CAST(MAX(bin) OVER (PARTITION BY feature) AS BIGINT) AS max_bin
    FROM agg
), splits AS (
    SELECT feature, bin AS thr_bin,
           cn AS n_left, cp AS pos_left,
           nt - cn AS n_right, pt - cp AS pos_right,
           (cn * (1.0 - (cp / CAST(cn AS DOUBLE)) * (cp / CAST(cn AS DOUBLE))
                      - ((cn - cp) / CAST(cn AS DOUBLE))
                        * ((cn - cp) / CAST(cn AS DOUBLE)))
            + (nt - cn)
              * (1.0 - ((pt - cp) / CAST(nt - cn AS DOUBLE))
                       * ((pt - cp) / CAST(nt - cn AS DOUBLE))
                     - ((nt - cn) - (pt - cp)) / CAST(nt - cn AS DOUBLE)
                       * (((nt - cn) - (pt - cp)) / CAST(nt - cn AS DOUBLE))))
           / CAST(nt AS DOUBLE) AS gini_w
    FROM cum WHERE bin < max_bin
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
                                 ORDER BY gini_w, thr_bin) AS rn
    FROM splits
)
SELECT feature, thr_bin, n_left, pos_left, n_right, pos_right,
       ROUND(gini_w, 8) AS gini_w,
       CAST(rn = 1 AS INT) AS is_best
FROM ranked
""",
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training step: evaluate EVERY candidate split
    (feature, threshold) of a one-level tree by weighted Gini impurity
    and mark the per-feature argmin — the inner loop of tree ensembles
    (XGBoost/LightGBM grow trees from exactly these histogram-binned
    split scans). Features: c_acctbal in {STUMP_BINS} equi-width bins,
    c_nationkey ordinal; label = BUILDING segment.

    Plan: one scan explodes each row into its (feature, bin) long form
    (2 rows/customer), a bounded-key hash agg builds per-bin (n, pos)
    histograms, and cumulative sums ALONG each feature's bin order turn
    them into left/right split totals — the standard histogram trick
    that replaces per-threshold scans with one prefix pass. Windows are
    PARTITIONED by feature (each partition <= {STUMP_BINS} bins). The
    argmin is a per-feature row_number over the split table.

    Determinism: split totals are exact int64; the Gini expression is a
    fixed IEEE tree on identical operands (both engines write the same
    tree, unrounded for ranking, ROUND 8 only at the readout); ties
    break on thr_bin.

    100-TB shape: row-grain work is the map-side bin explode + combinable
    histogram agg (key space = 2 features x {STUMP_BINS} bins); every
    downstream op runs on the bounded histogram."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_acctbal",
        "c_nationkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
    )
    rng = c.agg(F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi"))
    acct = c.crossJoin(F.broadcast(rng)).select(
        F.lit("acctbal").alias("feature"),
        F.least(
            F.floor(
                (F.col("c_acctbal") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * STUMP_BINS
            ).cast("long"),
            F.lit(STUMP_BINS - 1).cast("long"),
        ).alias("bin"),
        "y",
    )
    nat = c.select(
        F.lit("nationkey").alias("feature"),
        F.col("c_nationkey").cast("long").alias("bin"),
        "y",
    )
    agg = (
        acct.unionByName(nat)
        .groupBy("feature", "bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    wo = Window.partitionBy("feature").orderBy("bin")
    wp = Window.partitionBy("feature")
    cum = agg.select(
        "feature",
        "bin",
        F.sum("n").over(wo).cast("long").alias("cn"),
        F.sum("n_pos").over(wo).cast("long").alias("cp"),
        F.sum("n").over(wp).cast("long").alias("nt"),
        F.sum("n_pos").over(wp).cast("long").alias("pt"),
        F.max("bin").over(wp).cast("long").alias("max_bin"),
    )
    cn, cp = F.col("cn"), F.col("cp")
    nt, pt = F.col("nt"), F.col("pt")
    nr = nt - cn
    pr = pt - cp
    cnd, nrd = cn.cast("double"), nr.cast("double")
    gini_l = (
        F.lit(1.0) - (cp / cnd) * (cp / cnd) - ((cn - cp) / cnd) * ((cn - cp) / cnd)
    )
    gini_r = (
        F.lit(1.0) - (pr / nrd) * (pr / nrd) - (nr - pr) / nrd * ((nr - pr) / nrd)
    )
    splits = cum.where(F.col("bin") < F.col("max_bin")).select(
        "feature",
        F.col("bin").alias("thr_bin"),
        cn.alias("n_left"),
        cp.alias("pos_left"),
        nr.alias("n_right"),
        pr.alias("pos_right"),
        ((cn * gini_l + nr * gini_r) / nt.cast("double")).alias("gini_w"),
    )
    wr = Window.partitionBy("feature").orderBy("gini_w", "thr_bin")
    return splits.select(
        "*", F.row_number().over(wr).alias("rn")
    ).select(
        "feature",
        "thr_bin",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.round("gini_w", 8).alias("gini_w"),
        (F.col("rn") == 1).cast("int").alias("is_best"),
    )


# --- One EM step for a 1-D two-component Gaussian mixture -------------------

GMM_MU = (0.1, 0.6)      # frozen component means (feature = acctbal/1e4)
GMM_SIG = (0.3, 0.3)     # frozen component sigmas
GMM_W = (0.5, 0.5)       # frozen mixing weights
GMM_E_DP = 9             # exponent-argument rounding pre-exp (libm guard)
GMM_P_DP = 12            # density rounding post-exp
GMM_R_DP = 10            # responsibility rounding before decimal sums

_GMM_P_SQL = [
    f"ROUND(exp(ROUND(-0.5 * ((f - {GMM_MU[k]}) / {GMM_SIG[k]})"
    f" * ((f - {GMM_MU[k]}) / {GMM_SIG[k]}), {GMM_E_DP}))"
    f" / {GMM_SIG[k]}, {GMM_P_DP})"
    for k in (0, 1)
]


@query(
    "em_gmm_step",
    oracle=f"""
WITH f AS (
    SELECT c_acctbal / 10000.0 AS f FROM customer
), p AS (
    SELECT f, {_GMM_P_SQL[0]} AS p1, {_GMM_P_SQL[1]} AS p2 FROM f
), r AS (
    SELECT f,
           ROUND({GMM_W[0]} * p1 / ({GMM_W[0]} * p1 + {GMM_W[1]} * p2),
                 {GMM_R_DP}) AS r1
    FROM p
), lng AS (
    SELECT 1 AS component, f, r1 AS r FROM r
    UNION ALL
    SELECT 2 AS component, f, ROUND(1.0 - r1, {GMM_R_DP}) AS r FROM r
), m AS (
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(r, {GMM_R_DP})
                AS DECIMAL(28,{GMM_R_DP}))) AS DOUBLE) AS sr,
           CAST(SUM(CAST(ROUND(r * f, {GMM_R_DP})
                AS DECIMAL(28,{GMM_R_DP}))) AS DOUBLE) AS srx,
           CAST(SUM(CAST(ROUND(r * f * f, {GMM_P_DP})
                AS DECIMAL(32,{GMM_P_DP}))) AS DOUBLE) AS srxx
    FROM lng GROUP BY 1
)
SELECT component, n,
       ROUND(sr / n, 6) AS w_new,
       ROUND(srx / sr, 6) AS mu_new,
       ROUND(sqrt(srxx / sr - (srx / sr) * (srx / sr)), 6) AS sigma_new
FROM m
""",
)
def q_em_gmm_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM iteration of a 1-D two-component Gaussian mixture over the
    scaled account balance, from frozen parameters (mu={GMM_MU},
    sigma={GMM_SIG}, w={GMM_W}) — the soft-clustering training-step
    shape next to ``kmeans_lloyd_step`` (hard assignments) and
    ``logreg_gd_step`` (supervised): E-step responsibilities, M-step
    re-estimates from three weighted sufficient statistics.

    Determinism: the one transcendental (exp) follows the
    ``logreg_gd_step`` schedule — exponent argument rounded
    {GMM_E_DP}dp, density {GMM_P_DP}dp, responsibility {GMM_R_DP}dp —
    and all three M-step sums run as DECIMAL (combine-order-free); the
    normalizing divisions and sqrt are one fixed IEEE tree per
    component, ROUND 6.

    100-TB shape: E-step is pure map; the M-step is a 2-key hash agg of
    map-combinable decimal sums (the classic sufficient-statistic EM —
    what Spark MLlib's GaussianMixture aggregates per iteration);
    nothing downstream exceeds |components| rows."""
    f = load_table(spark, sf_dir, "customer").select(
        (F.col("c_acctbal") / F.lit(10000.0)).alias("f")
    )
    ps = []
    for k in (0, 1):
        d = (F.col("f") - GMM_MU[k]) / GMM_SIG[k]
        ps.append(
            F.round(
                F.exp(F.round(F.lit(-0.5) * d * d, GMM_E_DP)) / GMM_SIG[k],
                GMM_P_DP,
            )
        )
    r1 = F.round(
        GMM_W[0] * ps[0] / (GMM_W[0] * ps[0] + GMM_W[1] * ps[1]), GMM_R_DP
    )
    r = f.select("f", r1.alias("r1"))
    lng = r.select(F.lit(1).alias("component"), "f", F.col("r1").alias("r")).unionByName(
        r.select(
            F.lit(2).alias("component"),
            "f",
            F.round(F.lit(1.0) - F.col("r1"), GMM_R_DP).alias("r"),
        )
    )
    m = lng.groupBy("component").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.round(F.col("r"), GMM_R_DP).cast(f"decimal(28,{GMM_R_DP})")
        ).cast("double").alias("sr"),
        F.sum(
            F.round(F.col("r") * F.col("f"), GMM_R_DP).cast(
                f"decimal(28,{GMM_R_DP})"
            )
        ).cast("double").alias("srx"),
        F.sum(
            F.round(F.col("r") * F.col("f") * F.col("f"), GMM_P_DP).cast(
                f"decimal(32,{GMM_P_DP})"
            )
        ).cast("double").alias("srxx"),
    )
    mu_new = F.col("srx") / F.col("sr")
    return m.select(
        "component",
        "n",
        F.round(F.col("sr") / F.col("n"), 6).alias("w_new"),
        F.round(mu_new, 6).alias("mu_new"),
        F.round(
            F.sqrt(F.col("srxx") / F.col("sr") - mu_new * mu_new), 6
        ).alias("sigma_new"),
    )


# --- Two rounds of gradient boosting on histogram stumps ----------------------

GBDT_BINS = 16    # equi-width c_acctbal bins (as decision_stump)
GBDT_LR = 0.5     # learning rate — DYADIC, so lr * gamma is exact given gamma
GBDT_T_DP = 12    # per-bin MSE term rounding before the decimal sum


@query(
    "gbdt_boost_round",
    oracle=f"""
WITH c AS (
    SELECT c_acctbal, CAST(c_mktsegment = 'BUILDING' AS INT) AS y
    FROM customer
), rng AS (
    SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer
), h AS (
    SELECT LEAST(CAST(FLOOR((c.c_acctbal - r.lo) / (r.hi - r.lo)
                            * {GBDT_BINS}) AS BIGINT),
                 {GBDT_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sy
    FROM c CROSS JOIN rng r GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(sy) AS BIGINT) AS st,
           CAST(MAX(bin) AS BIGINT) AS mb
    FROM h
), pre1 AS (
    SELECT bin, n, sy,
           CAST(SUM(n) OVER w AS BIGINT) AS cn,
           CAST(SUM(sy) OVER w AS BIGINT) AS cs,
           nt, st, mb
    FROM h, tot
    WINDOW w AS (ORDER BY bin)
), best1 AS (
    SELECT bin AS thr1,
           (cs - cn * (st / CAST(nt AS DOUBLE))) / cn AS g1l,
           -(cs - cn * (st / CAST(nt AS DOUBLE))) / (nt - cn) AS g1r
    FROM pre1 WHERE bin < mb
    QUALIFY ROW_NUMBER() OVER (ORDER BY
        (cs - cn * (st / CAST(nt AS DOUBLE)))
      * (cs - cn * (st / CAST(nt AS DOUBLE)))
      * (1.0 / cn + 1.0 / (nt - cn)) DESC, bin) = 1
), s2 AS (
    SELECT bin, n, sy, nt, st, mb,
           (sy - n * (st / CAST(nt AS DOUBLE)))
         - {GBDT_LR} * n * (CASE WHEN bin <= b1.thr1
                                 THEN b1.g1l ELSE b1.g1r END) AS s2v
    FROM pre1, best1 b1
), pre2 AS (
    SELECT bin, n, sy, nt, st, mb, s2v,
           SUM(s2v) OVER (ORDER BY bin) AS cs2,
           CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn
    FROM s2
), s2t AS (
    SELECT cs2 AS v FROM pre2 WHERE bin = mb
), best2 AS (
    SELECT bin AS thr2,
           cs2 / cn AS g2l,
           (t.v - cs2) / (nt - cn) AS g2r
    FROM pre2, s2t t WHERE bin < mb
    QUALIFY ROW_NUMBER() OVER (ORDER BY
        cs2 * cs2 / cn + (t.v - cs2) * (t.v - cs2) / (nt - cn) DESC,
        bin) = 1
), terms AS (
    SELECT h.bin, h.n, h.sy, tot.nt, tot.st,
           st / CAST(nt AS DOUBLE) AS f0,
           CASE WHEN h.bin <= b1.thr1 THEN b1.g1l ELSE b1.g1r END AS g1s,
           CASE WHEN h.bin <= b2.thr2 THEN b2.g2l ELSE b2.g2r END AS g2s
    FROM h, tot, best1 b1, best2 b2
), mse AS (
    SELECT
      SUM(CAST(ROUND(
          sy * (1.0 - f0 - {GBDT_LR} * g1s) * (1.0 - f0 - {GBDT_LR} * g1s)
        + (n - sy) * (0.0 - f0 - {GBDT_LR} * g1s)
                   * (0.0 - f0 - {GBDT_LR} * g1s),
          {GBDT_T_DP}) AS DECIMAL(28,{GBDT_T_DP}))) AS sse1,
      SUM(CAST(ROUND(
          sy * (1.0 - f0 - {GBDT_LR} * g1s - {GBDT_LR} * g2s)
             * (1.0 - f0 - {GBDT_LR} * g1s - {GBDT_LR} * g2s)
        + (n - sy) * (0.0 - f0 - {GBDT_LR} * g1s - {GBDT_LR} * g2s)
                   * (0.0 - f0 - {GBDT_LR} * g1s - {GBDT_LR} * g2s),
          {GBDT_T_DP}) AS DECIMAL(28,{GBDT_T_DP}))) AS sse2,
      CAST(MAX(nt) AS BIGINT) AS nt
    FROM terms
)
SELECT 1 AS round, thr1 AS thr_bin,
       ROUND(g1l, 8) AS gamma_left, ROUND(g1r, 8) AS gamma_right,
       ROUND(CAST(sse1 AS DOUBLE) / nt, 8) AS train_mse
FROM best1, mse
UNION ALL
SELECT 2, thr2, ROUND(g2l, 8), ROUND(g2r, 8),
       ROUND(CAST(sse2 AS DOUBLE) / nt, 8)
FROM best2, mse
""",
)
def q_gbdt_boost_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO sequential gradient-boosting rounds on histogram regression
    stumps (squared loss, lr={GBDT_LR}) — the LightGBM/XGBoost training
    shape end-to-end: F0 = mean label, round 1 fits a stump to the
    residuals, round 2 fits a second stump to the residuals AFTER
    shrinkage. The key distributed-systems fact the op demonstrates:
    because predictions are per-bin constants, EVERY residual quantity
    aggregates on the bounded histogram — the raw data is scanned
    exactly once, and both boosting rounds run on {GBDT_BINS} rows.
    Split score maximizes the SSE-reduction identity
    S_l^2/n_l + S_r^2/n_r over prefix residual sums; leaf values are
    the region residual means; train MSE is reported after each round.

    Determinism: round-1 prefix sums are exact int64; round-2 prefix
    sums are doubles accumulated ALONG THE BIN ORDER (sequential window
    fold — same order both engines); split scores/leaf values are fixed
    IEEE trees with ties broken on thr_bin; per-bin MSE terms round at
    {GBDT_T_DP}dp into a DECIMAL sum (combine-order free); lr is dyadic
    so shrinkage adds no rounding.

    100-TB shape: one map-combinable histogram agg at bin grain; every
    later op (splits, gammas, MSE) touches <= {GBDT_BINS} rows. This is
    why histogram GBDT scales: rounds cost O(bins), not O(rows).

    r16 plan-size persists (the pca_power_iteration precedent: persist
    to TRUNCATE the analyzed plan at cache boundaries, never for
    intra-execution data reuse): the boosting chain references each
    bounded intermediate (h, tot, pre1, best1, pre2, best2, mse — all
    <= {GBDT_BINS} rows or 1 row) from 2-4 downstream branches, and
    without the cache boundary every reference INLINES the whole
    upstream subtree — the final plan carried 593 executable nodes / 68
    parquet scans / 102 exchanges whose optimize+codegen time dominated
    the cell (the raw data is 16 histogram rows after the first agg).
    Persisting the seven bounded tables collapses the plan to one scan
    and a linear chain. Entries are <= 16 rows each, released by the
    standard session clearCache contract."""
    from ..operators.windows import bounded_window

    cust = load_table(spark, sf_dir, "customer")
    rng = cust.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    h = (
        cust.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.floor(
                    (F.col("c_acctbal") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * GBDT_BINS
                ).cast("long"),
                F.lit(GBDT_BINS - 1).cast("long"),
            ).alias("bin"),
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = h.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("sy").cast("long").alias("st"),
        F.max("bin").cast("long").alias("mb"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w = bounded_window(
        "bin",
        bound=f"histogram prefix: {GBDT_BINS} equi-width bins",
        queries=("gbdt_boost_round",),
    ).rowsBetween(Window.unboundedPreceding, 0)
    pre1 = h.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "sy",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("sy").over(w).cast("long").alias("cs"),
        "nt",
        "st",
        "mb",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    f0 = F.col("st") / F.col("nt").cast("double")
    sl = F.col("cs") - F.col("cn") * f0
    score1 = sl * sl * (
        1.0 / F.col("cn") + 1.0 / (F.col("nt") - F.col("cn"))
    )
    best1 = (
        pre1.where(F.col("bin") < F.col("mb"))
        .orderBy(score1.desc(), F.col("bin"))
        .limit(1)
        .select(
            F.col("bin").alias("thr1"),
            (sl / F.col("cn")).alias("g1l"),
            (-sl / (F.col("nt") - F.col("cn"))).alias("g1r"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    s2 = pre1.crossJoin(F.broadcast(best1)).select(
        "bin",
        "n",
        "sy",
        "nt",
        "st",
        "mb",
        (
            (F.col("sy") - F.col("n") * f0)
            - GBDT_LR
            * F.col("n")
            * F.when(F.col("bin") <= F.col("thr1"), F.col("g1l")).otherwise(
                F.col("g1r")
            )
        ).alias("s2v"),
    )
    pre2 = s2.select(
        "bin",
        "n",
        "sy",
        "nt",
        "st",
        "mb",
        "s2v",
        F.sum("s2v").over(w).alias("cs2"),
        F.sum("n").over(w).cast("long").alias("cn"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    s2t = pre2.where(F.col("bin") == F.col("mb")).select(
        F.col("cs2").alias("v")
    )
    score2 = F.col("cs2") * F.col("cs2") / F.col("cn") + (
        F.col("v") - F.col("cs2")
    ) * (F.col("v") - F.col("cs2")) / (F.col("nt") - F.col("cn"))
    best2 = (
        pre2.crossJoin(F.broadcast(s2t))
        .where(F.col("bin") < F.col("mb"))
        .orderBy(score2.desc(), F.col("bin"))
        .limit(1)
        .select(
            F.col("bin").alias("thr2"),
            (F.col("cs2") / F.col("cn")).alias("g2l"),
            (
                (F.col("v") - F.col("cs2"))
                / (F.col("nt") - F.col("cn"))
            ).alias("g2r"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    terms = (
        h.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(best1))
        .crossJoin(F.broadcast(best2))
        .select(
            "bin",
            "n",
            "sy",
            "nt",
            f0.alias("f0"),
            F.when(F.col("bin") <= F.col("thr1"), F.col("g1l"))
            .otherwise(F.col("g1r"))
            .alias("g1s"),
            F.when(F.col("bin") <= F.col("thr2"), F.col("g2l"))
            .otherwise(F.col("g2r"))
            .alias("g2s"),
        )
    )
    r1 = F.lit(1.0) - F.col("f0") - GBDT_LR * F.col("g1s")
    r0 = F.lit(0.0) - F.col("f0") - GBDT_LR * F.col("g1s")
    q1 = r1 - GBDT_LR * F.col("g2s")
    q0 = r0 - GBDT_LR * F.col("g2s")
    dec = f"decimal(28,{GBDT_T_DP})"
    mse = terms.agg(
        F.sum(
            F.round(F.col("sy") * r1 * r1 + (F.col("n") - F.col("sy")) * r0 * r0, GBDT_T_DP).cast(dec)
        ).alias("sse1"),
        F.sum(
            F.round(F.col("sy") * q1 * q1 + (F.col("n") - F.col("sy")) * q0 * q0, GBDT_T_DP).cast(dec)
        ).alias("sse2"),
        F.max("nt").cast("long").alias("nt"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    row1 = best1.crossJoin(F.broadcast(mse)).select(
        F.lit(1).alias("round"),
        F.col("thr1").alias("thr_bin"),
        F.round("g1l", 8).alias("gamma_left"),
        F.round("g1r", 8).alias("gamma_right"),
        F.round(F.col("sse1").cast("double") / F.col("nt"), 8).alias(
            "train_mse"
        ),
    )
    row2 = best2.crossJoin(F.broadcast(mse)).select(
        F.lit(2).alias("round"),
        F.col("thr2").alias("thr_bin"),
        F.round("g2l", 8).alias("gamma_left"),
        F.round("g2r", 8).alias("gamma_right"),
        F.round(F.col("sse2").cast("double") / F.col("nt"), 8).alias(
            "train_mse"
        ),
    )
    return row1.unionByName(row2)
