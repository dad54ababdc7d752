"""Text-analysis + dedup queries over ``documents`` (north-star surface;
SURVEY.md §7.8). Spark plans in ``operators/text.py``; every oracle below
recomputes the identical math with DuckDB list lambdas.

Engine-portability notes encoded here once:
- DuckDB ``regexp_replace`` needs the ``'g'`` flag (Spark replaces globally
  by default);
- integer/integer ``/`` is true (double) division in BOTH engines;
- MinHash components come from one md5 per shingle + an exact int64 modular
  hash family, so no engine-native hash function enters any result;
- DuckDB ``range(a, b)`` is end-exclusive, Spark ``sequence(a, b)``
  end-inclusive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.planmemo import shared_view
from ..operators.text import (
    bucket_pairs,
    MINHASH_K,
    STOPWORDS,
    bottomk_fingerprint,
    lsh_bands,
    minhash_signature,
    signature_match_frac,
    simhash16,
    simhash16_int,
    tokens,
    with_recrawl,
    word_ngrams,
)
from ..sources.tables import fan_out, load_table
from .registry import query

DF_CAP = 50          # document-frequency cap for shingle blocking (anti-skew)
JACCARD_THRESHOLD = 0.5
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

# --- shared oracle CTEs ------------------------------------------------------

DOCS2_CTE = """
docs2 AS (
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 100000, text, lang, 'recrawl', n_chars FROM documents
)
"""

_TOKS = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),"
    " ' '), t -> t <> '')"
)

TOK_CTE = f"""
tok AS (
    SELECT doc_id, text, lang, source, n_chars, {_TOKS} AS toks
    FROM documents
)
"""

TOK2_CTE = f"""
, tok2 AS (
    SELECT doc_id, text, {_TOKS} AS toks
    FROM docs2
)
"""

GRAMS2_CTE = """
, grams_cte AS (
    SELECT doc_id,
        list_distinct(CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE CAST([] AS VARCHAR[]) END) AS grams
    FROM tok2
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, grams): distinct word trigrams per document."""
    return docs.select(
        "doc_id", F.array_distinct(word_ngrams(tokens(F.col("text")), 3)).alias("grams")
    )


def _dedup_pair_stats_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_a, doc_b, inter_grams, n1, n2) candidate-pair stats over
    the DF-capped trigram inverted index, memoized + persisted (r16; guide
    §2.4 share-one-build). ``dedup_ngram_jaccard`` and ``dedup_containment``
    build the IDENTICAL subtree — recrawl union -> shingle -> explode ->
    window DF cap -> pair self-join + per-doc sizes — and differ only in
    the final score (jaccard = inter/(n1+n2-inter) vs containment =
    inter/min(n1,n2)) and its threshold. One build serves both per session;
    each query's scoring expression is unchanged and runs map-side on the
    cached table.

    100-TB shape unchanged: one shuffle on the shingle key (the DF cap
    bounds every gram bucket, so the pair fan-out per gram is <= C(50,2)).
    The persisted table is pre-filtered to ``2*inter_grams >= min(n1,n2)``
    (containment >= 0.5, EXACT integer arithmetic) — a measured-necessary
    guard (r16): caching the full 4.5M-row candidate table cost the first
    consumer +2.6 s; the prefilter keeps the cache at output scale.
    Retention proof: both consumers' thresholds imply it. jaccard >= 0.5
    => inter/union >= 0.5 rationally (the correctly-rounded double can
    only reach 0.5 when the rational ratio is within ulp/2 ~ 2.8e-17,
    i.e. union >= 1.8e16 grams — impossible for document-bounded sets)
    => 3*inter >= n1+n2 >= 2*min => 2*inter >= min. containment >= 0.8
    => 2*inter >= 1.6*min >= min. So every row either query emits
    survives the prefilter, and each query's own (unchanged) final
    filter re-applies its exact threshold on top."""
    def build() -> DataFrame:
        docs2 = with_recrawl(_docs(spark, sf_dir))
        shingled = _shingled(docs2)
        expl = shingled.select("doc_id", F.explode("grams").alias("g"))
        rare = expl.withColumn(
            "df", F.count("*").over(Window.partitionBy("g"))
        ).filter(F.col("df") <= DF_CAP).select("doc_id", "g")
        rsize = rare.groupBy("doc_id").agg(F.count("*").alias("n"))
        r1 = rare.select(F.col("doc_id").alias("doc_a"), "g")
        r2 = rare.select(F.col("doc_id").alias("doc_b"), "g")
        inter = (
            r1.join(r2, "g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter_grams"))
        )
        s1 = rsize.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n1"))
        s2 = rsize.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n2"))
        return (
            inter.join(s1, "doc_a")
            .join(s2, "doc_b")
            .where(F.lit(2) * F.col("inter_grams") >= F.least("n1", "n2"))
        )

    return shared_view(
        spark, "dedup_pair_stats", sf_dir, build, StorageLevel.MEMORY_AND_DISK_DESER
    )


# --- 1. text stats / quality scoring ----------------------------------------

@query(
    "text_stats",
    oracle="WITH " + TOK_CTE + f"""
SELECT doc_id,
    CAST(len(text) AS BIGINT)                    AS n_chars_calc,
    CAST(len(toks) AS BIGINT)                    AS n_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT)     AS n_distinct_tokens,
    list_sum(list_transform(toks, t -> len(t))) / NULLIF(len(toks), 0)  AS avg_token_len,
    len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / NULLIF(len(text), 0) AS alpha_ratio,
    len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and'))) / NULLIF(len(toks), 0) AS stopword_ratio,
    CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS bpe_piece_count,
    CAST(len(toks) BETWEEN 10 AND 1000
         AND len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / NULLIF(len(text), 0) > 0.6
         AND list_sum(list_transform(toks, t -> len(t))) / NULLIF(len(toks), 0) BETWEEN 2 AND 12
         AS BOOLEAN) AS quality_ok
FROM tok
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex pieces), length/alpha/
    stopword quality ratios, and a conjunctive quality flag — all map-side
    Catalyst HOFs, no UDFs."""
    toks = tokens(F.col("text"))
    tok_lens = F.transform(toks, lambda t: F.length(t))
    # NULLIF guards: under ANSI mode (Spark 4 default) a zero-token or
    # zero-length doc would raise DIVIDE_BY_ZERO; null matches DuckDB
    n_toks = F.nullif(F.size(toks), F.lit(0))
    avg_len = F.aggregate(tok_lens, F.lit(0), lambda a, x: a + x) / n_toks
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.nullif(
        F.length("text"), F.lit(0)
    )
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))) / n_toks
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        avg_len.alias("avg_token_len"),
        alpha.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).cast("long").alias("bpe_piece_count"),
        (
            F.size(toks).between(10, 1000)
            & (alpha > 0.6)
            & avg_len.between(2, 12)
        ).alias("quality_ok"),
    )


# --- 2. language ID heuristic ------------------------------------------------

def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"CAST(len(list_filter(toks, t -> t IN ({words}))) AS BIGINT)"


@query(
    "lang_id",
    oracle="WITH " + TOK_CTE + f"""
, scored AS (
    SELECT doc_id, lang,
        {_lang_score_sql("de")} AS de_score,
        {_lang_score_sql("en")} AS en_score,
        {_lang_score_sql("es")} AS es_score,
        {_lang_score_sql("fr")} AS fr_score
    FROM tok
), m AS (
    SELECT *, GREATEST(de_score, en_score, es_score, fr_score) AS best FROM scored
)
SELECT doc_id, lang, de_score, en_score, es_score, fr_score,
    CASE WHEN best = 0 THEN 'und'
         WHEN de_score = best THEN 'de'
         WHEN en_score = best THEN 'en'
         WHEN es_score = best THEN 'es'
         ELSE 'fr' END AS predicted_lang,
    CAST(CASE WHEN best = 0 THEN 'und'
         WHEN de_score = best THEN 'de'
         WHEN en_score = best THEN 'en'
         WHEN es_score = best THEN 'es'
         ELSE 'fr' END = lang AS BOOLEAN) AS is_match
FROM m
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with deterministic alphabetical argmax
    tie-break; 'und' when no profile fires. (The fixture's text is synthetic
    shared-vocabulary English, so accuracy vs the label column is incidental —
    the operator shape is what scales.)"""
    toks = tokens(F.col("text"))

    def score(lang: str):
        return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))).cast("long")

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        score("de").alias("de_score"), score("en").alias("en_score"),
        score("es").alias("es_score"), score("fr").alias("fr_score"),
    )
    best = F.greatest("de_score", "en_score", "es_score", "fr_score")
    predicted = (
        F.when(best == 0, "und")
        .when(F.col("de_score") == best, "de")
        .when(F.col("en_score") == best, "en")
        .when(F.col("es_score") == best, "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id", "lang", "de_score", "en_score", "es_score", "fr_score",
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    )


# --- 3. exact dedup ----------------------------------------------------------

@query(
    "dedup_exact",
    oracle="WITH " + DOCS2_CTE + """
SELECT md5(text) AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS canonical_doc_id,
       MAX(doc_id) AS max_doc_id
FROM docs2
GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a content-hash groupBy; canonical row = min doc_id
    (the deterministic keep-first rule). Map-side-combinable; at 100 TB the
    shuffle key is the 128-bit hash, uniformly distributed — no skew."""
    docs2 = with_recrawl(_docs(spark, sf_dir))
    return docs2.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("canonical_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --- 4. n-gram Jaccard near-dup (blocked + exact verify) ---------------------

@query(
    "dedup_ngram_jaccard",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + GRAMS2_CTE + f"""
, expl AS (
    SELECT doc_id, unnest(grams) AS g FROM grams_cte
), rare AS (
    SELECT doc_id, g FROM expl
    QUALIFY COUNT(*) OVER (PARTITION BY g) <= {DF_CAP}
), rsize AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rare GROUP BY 1
), inter AS (
    SELECT r1.doc_id AS doc_a, r2.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_grams
    FROM rare r1 JOIN rare r2 ON r1.g = r2.g AND r1.doc_id < r2.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter_grams,
       s1.n + s2.n - i.inter_grams AS union_grams,
       i.inter_grams / (s1.n + s2.n - i.inter_grams) AS jaccard
FROM inter i
JOIN rsize s1 ON s1.doc_id = i.doc_a
JOIN rsize s2 ON s2.doc_id = i.doc_b
WHERE i.inter_grams / (s1.n + s2.n - i.inter_grams) >= {JACCARD_THRESHOLD}
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via the inverted shingle index: the pair join over
    word trigrams yields the EXACT intersection count directly (no per-pair
    array re-verification), so jaccard = inter / (n1 + n2 - inter) costs one
    shuffle on the shingle key plus two size lookups. The document-frequency
    cap prunes stop-shingles from both the pairing AND the set sizes —
    consistent capped-set semantics, and the anti-skew guard that keeps any
    one shingle's bucket from going quadratic at scale. Pair stats come
    from the shared persisted ``_dedup_pair_stats_view`` (one index build
    serves this and ``dedup_containment``); the scoring expression is
    unchanged."""
    union = F.col("n1") + F.col("n2") - F.col("inter_grams")
    return (
        _dedup_pair_stats_view(spark, sf_dir)
        .select(
            "doc_a", "doc_b", "inter_grams",
            union.alias("union_grams"),
            (F.col("inter_grams") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --- 5. MinHash + LSH near-dup ----------------------------------------------

def _minhash_sql() -> str:
    """DuckDB mirror of operators/text.py:minhash_signature — one md5 per
    shingle, modular component family, elementwise-min fold."""
    from ..operators.text import MINHASH_AB, MINHASH_P

    ab = ", ".join(f"[{a}, {b}]" for a, b in MINHASH_AB)
    init = ", ".join(f"CAST({MINHASH_P} AS BIGINT)" for _ in range(MINHASH_K))
    h = f"(('0x' || substr(md5(s), 1, 12))::BIGINT % {MINHASH_P})"
    comps = f"list_transform([{ab}], ab -> (ab[1] * {h} + ab[2]) % {MINHASH_P})"
    return (
        f"list_reduce(list_prepend([{init}], list_transform(grams, s -> {comps})), "
        f"(acc, c) -> list_transform(range(1, {MINHASH_K + 1}), i -> least(acc[i], c[i])))"
    )


@query(
    "dedup_minhash_lsh",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + GRAMS2_CTE + f"""
, sigs AS (
    SELECT doc_id, {_minhash_sql()} AS sig FROM grams_cte
), bands AS (
    SELECT s.doc_id, b.band_idx,
        ((s.sig[3 * b.band_idx + 1] * 31 + s.sig[3 * b.band_idx + 2]) % 2147483647
          * 31 + s.sig[3 * b.band_idx + 3]) % 2147483647 AS band_key
    FROM sigs s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
), cand AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM bands b1 JOIN bands b2
      ON b1.band_idx = b2.band_idx AND b1.band_key = b2.band_key
     AND b1.doc_id < b2.doc_id
)
SELECT c.doc_a, c.doc_b,
    CAST(len(list_filter(range(1, {MINHASH_K + 1}),
                         i -> s1.sig[i] = s2.sig[i])) AS BIGINT) AS n_matching,
    len(list_filter(range(1, {MINHASH_K + 1}),
                    i -> s1.sig[i] = s2.sig[i])) / {MINHASH_K} AS est_jaccard
FROM cand c
JOIN sigs s1 ON s1.doc_id = c.doc_a
JOIN sigs s2 ON s2.doc_id = c.doc_b
WHERE len(list_filter(range(1, {MINHASH_K + 1}),
          i -> s1.sig[i] = s2.sig[i])) / {MINHASH_K} >= {JACCARD_THRESHOLD}
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=12 salted-md5 string minima) + banded LSH (4 bands x 3
    rows): candidate pairs share a band bucket; the Jaccard estimate is the
    matching-component fraction. The band join shuffles on (band_idx,
    band_key) — md5 keys are uniform, so bucket sizes stay balanced at
    scale; signatures are fixed 12-slot arrays, O(1) state per doc."""
    docs2 = fan_out(with_recrawl(_docs(spark, sf_dir)), "doc_id")
    sigs = _shingled(docs2).select(
        "doc_id", minhash_signature(F.col("grams")).alias("sig")
    )
    # grouped-bucket pair generation (bucket_pairs) instead of a band
    # self-join: a DataFrame self-join would recompute the whole
    # tokenize->shingle->signature pipeline once per join branch
    bands = sigs.select(
        F.explode(lsh_bands(F.col("sig"))).alias("b"),
        F.struct("doc_id", "sig").alias("ds"),
    )
    buckets = (
        bands.groupBy(F.col("b.band_idx"), F.col("b.band_key"))
        .agg(F.collect_list("ds").alias("members"))
        .filter(F.size("members") >= 2)
    )
    pairs = buckets.select(F.explode(bucket_pairs(F.col("members"))).alias("p")).select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.sig").alias("sig_a"),
        F.col("p.b.sig").alias("sig_b"),
    )
    eq = F.filter(
        F.sequence(F.lit(1), F.lit(MINHASH_K)),
        lambda i: F.element_at("sig_a", i) == F.element_at("sig_b", i),
    )
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.size(eq).cast("long").alias("n_matching"),
            signature_match_frac(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
        )
        .distinct()  # same pair surfacing from multiple bands
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )


# --- 6. SimHash fingerprint groups ------------------------------------------

def _simhash_sql() -> str:
    """16 majority-vote bit expressions over token-hash prefixes."""
    bits = []
    for k in range(16):
        c, b = k // 4 + 1, 3 - (k % 4)
        d = f"(instr('0123456789abcdef', substr(h, {c}, 1)) - 1)"
        pred = {
            3: f"{d} >= 8",
            2: f"{d} % 8 >= 4",
            1: f"{d} % 4 >= 2",
            0: f"{d} % 2 = 1",
        }[b]
        ones = f"len(list_filter(hashes, h -> {pred}))"
        bits.append(f"CASE WHEN 2 * {ones} > len(hashes) THEN '1' ELSE '0' END")
    return " || ".join(bits)


@query(
    "simhash_groups",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + f"""
, hashed AS (
    SELECT doc_id, list_transform(toks, t -> substr(md5(t), 1, 4)) AS hashes
    FROM tok2
), fp AS (
    SELECT doc_id, {_simhash_sql()} AS simhash FROM hashed
)
SELECT simhash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM fp
GROUP BY simhash
HAVING COUNT(*) > 1
""",
)
def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash (frequency-weighted majority vote over token-hash
    bits, ties -> 0) grouped by fingerprint: collision groups are near-dup
    candidates. Bit math is modulo/compare on hex-digit values — portable,
    shift-free, pure codegen."""
    docs2 = with_recrawl(_docs(spark, sf_dir))
    fp = docs2.select("doc_id", simhash16(tokens(F.col("text"))).alias("simhash"))
    return (
        fp.groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --- 6b. SimHash banded Hamming-distance near-dup ----------------------------

def _simhash_int_sql() -> str:
    """Integer simhash: sum of MSB-first bit weights over the same majority
    votes as ``_simhash_sql``."""
    terms = []
    for k in range(16):
        c, b = k // 4 + 1, 3 - (k % 4)
        d = f"(instr('0123456789abcdef', substr(h, {c}, 1)) - 1)"
        pred = {
            3: f"{d} >= 8",
            2: f"{d} % 8 >= 4",
            1: f"{d} % 4 >= 2",
            0: f"{d} % 2 = 1",
        }[b]
        ones = f"len(list_filter(hashes, h -> {pred}))"
        terms.append(
            f"CASE WHEN 2 * {ones} > len(hashes) THEN {1 << (15 - k)} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


SIMHASH_MAX_HAMMING = 2   # near-dup = fingerprints within 2 flipped bits
SIMHASH_BUCKET_CAP = 400  # hub-band guard: skip degenerate band buckets


@query(
    "dedup_simhash_hamming",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + f"""
, hashed AS (
    SELECT doc_id, list_transform(toks, t -> substr(md5(t), 1, 4)) AS hashes
    FROM tok2
), fp AS (
    SELECT doc_id, {_simhash_int_sql()} AS fp FROM hashed
), bands AS (
    SELECT doc_id, fp, b.band,
           CASE b.band WHEN 0 THEN fp // 1024
                       WHEN 1 THEN (fp // 32) % 32
                       ELSE fp % 32 END AS bval
    FROM fp, (SELECT UNNEST([0, 1, 2]) AS band) b
), kept AS (
    SELECT * FROM bands
    QUALIFY COUNT(*) OVER (PARTITION BY band, bval) <= {SIMHASH_BUCKET_CAP}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.fp AS fa, b.fp AS fb
    FROM kept a JOIN kept b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {SIMHASH_MAX_HAMMING}
""",
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a Hamming-distance tolerance (the form the
    brief names next to MinHash): ``simhash_groups`` only finds EXACT
    fingerprint collisions; real near-dups flip a bit or two. Banded
    Hamming LSH: the 16-bit fingerprint splits into 3 bands (6+5+5 bits) —
    by pigeonhole any pair within Hamming {SIMHASH_MAX_HAMMING} shares at
    least one full band, so candidate generation is an equi-join per
    (band, band-value) bucket, never all-pairs. Degenerate hub buckets
    (> {SIMHASH_BUCKET_CAP} docs) are dropped on both engines — the same
    stop-fingerprint recall trade-off as the DF-capped shingle index.
    Verification is map-side integer math: bit_count(fp_a XOR fp_b).
    At 100 TB the fingerprint widens to 64 bits and the bands to 4x16 —
    the shape (band-bucket equi-join + bit-count verify) is unchanged;
    bucket population is hash-uniform so the cap only trims adversarial
    hubs."""
    docs2 = fan_out(with_recrawl(_docs(spark, sf_dir)), "doc_id")
    fp = docs2.select("doc_id", simhash16_int(tokens(F.col("text"))).alias("fp"))
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"), F.shiftright("fp", 10).alias("bval")
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    (F.shiftright("fp", 5) % 32).alias("bval"),
                ),
                F.struct(F.lit(2).alias("band"), (F.col("fp") % 32).alias("bval")),
            )
        ).alias("b"),
    ).select("doc_id", "fp", "b.band", "b.bval")
    wcap = Window.partitionBy("band", "bval")
    kept = (
        bands.withColumn("__n", F.count("*").over(wcap))
        .filter(F.col("__n") <= SIMHASH_BUCKET_CAP)
        .drop("__n")
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fa"), "band", "bval"
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("fb"), "band", "bval"
    )
    # shuffle-hash pinned: both sides are the corpus-sized fingerprint
    # table — the (band, bval) equi-join IS the LSH bucket shuffle, and
    # neither side is broadcastable at scale
    cand = (
        a.join(b.hint("shuffle_hash"), ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fa", "fb")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# --- 7. rolling-hash document fingerprints ----------------------------------

@query(
    "doc_fingerprints",
    oracle="WITH " + DOCS2_CTE + """
, fp AS (
    SELECT doc_id,
        array_to_string(list_slice(list_sort(
            list_transform(range(1, greatest(len(text) - 7, 1) + 1),
                           i -> md5(substr(text, i, 8)))), 1, 4), '|') AS fingerprint
    FROM docs2
)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS n_sharing
FROM fp
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: bottom-4 sketch of the rolling character
    8-gram hash set. Identical content -> identical fingerprint regardless of
    doc_id/source; n_sharing counts the cluster size."""
    docs2 = with_recrawl(_docs(spark, sf_dir))
    fp = docs2.select(
        "doc_id", bottomk_fingerprint(F.col("text")).alias("fingerprint")
    )
    return fp.select(
        "doc_id", "fingerprint",
        F.count("*").over(Window.partitionBy("fingerprint")).alias("n_sharing"),
    )


# --- 8. dedup clustering: connected components over the near-dup graph ------

def _label_prop_sql(iters: int) -> str:
    """Unrolled min-label propagation CTEs l0..l{iters} over `edges`."""
    parts = ["""
, nodes AS (
    SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM edges UNION ALL SELECT doc_b FROM edges
    )
), sym_edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM edges
), l0 AS (SELECT doc_id, doc_id AS label FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f"""
, l{i} AS (
    SELECT n.doc_id, LEAST(n.label, COALESCE(MIN(m.label), n.label)) AS label
    FROM l{i - 1} n
    LEFT JOIN sym_edges e ON e.src = n.doc_id
    LEFT JOIN l{i - 1} m ON m.doc_id = e.dst
    GROUP BY n.doc_id, n.label
)""")
    return "".join(parts)


@query(
    "dedup_clusters",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + GRAMS2_CTE + f"""
, sigs AS (
    SELECT doc_id, {_minhash_sql()} AS sig FROM grams_cte
), bands AS (
    SELECT s.doc_id, b.band_idx,
        ((s.sig[3 * b.band_idx + 1] * 31 + s.sig[3 * b.band_idx + 2]) % 2147483647
          * 31 + s.sig[3 * b.band_idx + 3]) % 2147483647 AS band_key
    FROM sigs s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
), edges AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM bands b1 JOIN bands b2
      ON b1.band_idx = b2.band_idx AND b1.band_key = b2.band_key
     AND b1.doc_id < b2.doc_id
){_label_prop_sql(4)}
SELECT label AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM l4
GROUP BY label
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the LSH candidate graph
    via 4 iterations of min-label propagation (each iteration = one join
    against the symmetrized edge list; diameter of near-dup clusters is tiny
    in practice, and the iteration count is fixed so both engines compute
    the identical — possibly unconverged — fixpoint). The canonical keep
    row per cluster is min_doc_id. This is the iterative-algorithm
    representative: at scale each iteration is one shuffle join on doc_id."""
    labels = _cluster_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label) for every node of the LSH near-dup graph after 4
    min-label propagation rounds (docs with no candidate edges are absent).

    Iterative-algorithm hygiene: WITHOUT truncation, each iteration embeds
    the full upstream twice (labels appears in both join branches) — the
    plan grows 2^iters scans (EXPLAIN measured 342 exchanges / 496
    scans). Persist the edge list once and localCheckpoint the labels per
    iteration, exactly Spark's prescribed pattern for iterative graph
    algorithms; at scale this is one shuffle join per iteration.

    r16: a shared view (operators/planmemo.py) — ``dedup_clusters`` and
    ``dedup_corpus`` both consume the identical label table, and the
    eager per-round localCheckpoint jobs ran once PER QUERY. The checked
    label partitions are node-scale (graph nodes with >= 1 candidate
    edge) and die with the session; each new bench/oracle process still
    computes from the parquet inputs."""
    return shared_view(
        spark, "dedup_cluster_labels", sf_dir,
        lambda: _build_cluster_labels(spark, sf_dir),
    )


def _build_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs2 = fan_out(with_recrawl(_docs(spark, sf_dir)), "doc_id")
    sigs = _shingled(docs2).select(
        "doc_id", minhash_signature(F.col("grams")).alias("sig")
    )
    bands = sigs.select(
        F.explode(lsh_bands(F.col("sig"))).alias("b"), "doc_id"
    ).select("doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))
    b1 = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
    b2 = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    edges = (
        b1.join(b2, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).persist()
    nodes = sym.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.withColumn("label", F.col("doc_id")).localCheckpoint()
    for _ in range(4):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("doc_id", "dst_id"),
                     F.col("dst") == F.col("dst_id"))
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            .localCheckpoint()
        )
    sym.unpersist()
    return labels


@query(
    "dedup_corpus",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + GRAMS2_CTE + f"""
, sigs AS (
    SELECT doc_id, {_minhash_sql()} AS sig FROM grams_cte
), bands AS (
    SELECT s.doc_id, b.band_idx,
        ((s.sig[3 * b.band_idx + 1] * 31 + s.sig[3 * b.band_idx + 2]) % 2147483647
          * 31 + s.sig[3 * b.band_idx + 3]) % 2147483647 AS band_key
    FROM sigs s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
), edges AS (
    SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM bands b1 JOIN bands b2
      ON b1.band_idx = b2.band_idx AND b1.band_key = b2.band_key
     AND b1.doc_id < b2.doc_id
){_label_prop_sql(4)}
, drop_set AS (SELECT doc_id FROM l4 WHERE label <> doc_id)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM docs2 d LEFT JOIN drop_set x ON x.doc_id = d.doc_id
WHERE x.doc_id IS NULL
""",
)
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup CONSUMER: the corpus a user actually trains on.
    Keep every document that is either edge-free in the LSH candidate graph
    or its cluster's current label holder (label == doc_id after the fixed
    4 propagation rounds — per-cluster canonical minimum once converged;
    the unconverged fixpoint is deterministic and identical in both
    engines). Shape: the drop set is tiny relative to the corpus, so the
    final filter is a broadcast-able anti join against the fact scan — at
    100 TB the corpus is never shuffled, only the candidate-graph stages
    touch the shuffle service."""
    labels = _cluster_labels(spark, sf_dir)
    drop = labels.filter(F.col("label") != F.col("doc_id")).select("doc_id")
    docs2 = with_recrawl(_docs(spark, sf_dir))
    return docs2.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


# --- winnowing: per-window minimum fingerprint selection (MOSS) -------------

WINNOW_GRAM = 8      # character k-gram width
WINNOW_W = 6         # winnowing window (guaranteed density <= 2/(w+1))
WINNOW_SHARED = 5    # shared-fingerprint threshold for a candidate pair
WINNOW_DF_CAP = 50   # stop-fingerprint cap (anti-skew, as dedup_ngram_jaccard)

_WINNOW_FPS = f"""
list_distinct(list_transform(
    range(1, greatest(len(hashes) - {WINNOW_W - 1}, 1) + 1),
    j -> list_min(list_slice(hashes, j, j + {WINNOW_W - 1}))))
""".strip()


@query(
    "winnowing_dedup",
    oracle="WITH " + DOCS2_CTE + f"""
, hashed AS (
    SELECT doc_id,
           list_transform(range(1, greatest(len(text) - {WINNOW_GRAM - 1}, 1) + 1),
                          i -> md5(substr(text, i, {WINNOW_GRAM}))) AS hashes
    FROM docs2
), fps AS (
    SELECT doc_id, unnest({_WINNOW_FPS}) AS fp FROM hashed
), keep AS (
    SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WINNOW_DF_CAP}
), posting AS (
    SELECT f.doc_id, f.fp FROM fps f JOIN keep k ON k.fp = f.fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM posting a JOIN posting b ON b.fp = a.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WINNOW_SHARED}
""",
)
def q_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup candidates (Schleimer et al., the MOSS local
    fingerprinting algorithm): per document, hash every {WINNOW_GRAM}-char
    gram, slide a {WINNOW_W}-hash window and keep each window's MINIMUM —
    guaranteeing any shared substring of length >= {WINNOW_GRAM +
    WINNOW_W - 1} produces a shared fingerprint while selecting at most
    2/(w+1) of all grams. Selected fingerprints build an inverted index;
    pairs sharing >= {WINNOW_SHARED} fingerprints are candidates.

    Scale shape: selection is a pure map (HOFs, no UDF); pairs come from
    GROUPED fingerprint buckets (collect the <= {WINNOW_DF_CAP} doc_ids per
    fingerprint, expand i<j combos map-side — the same grouped-bucket
    pattern as dedup_minhash_lsh) rather than a posting self-join: the
    self-join form re-evaluated the whole md5 fingerprint pass FOUR times
    (keep + both join sides; 8 scans, 0 reused exchanges in the executed
    plan) — this form hashes every gram exactly once and shuffles once on
    fp. Oversized buckets (> {WINNOW_DF_CAP} docs) are stop-fingerprints,
    dropped before expansion, so no bucket explodes on boilerplate text;
    never all-pairs."""
    docs2 = fan_out(with_recrawl(_docs(spark, sf_dir)), "doc_id")
    # substring with a per-element start index needs the expr form (the
    # python substring() binds scalar start/len only)
    hashed = docs2.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(length(text) - {WINNOW_GRAM - 1}, 1)), "
            f"i -> md5(substring(text, i, {WINNOW_GRAM})))"
        ).alias("hashes"),
    )
    fps = hashed.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(hashes) - {WINNOW_W - 1}, 1)), "
                    f"j -> array_min(slice(hashes, j, {WINNOW_W})))"
                )
            )
        ).alias("fp"),
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= WINNOW_DF_CAP))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(docs) - 1), "
                "i -> transform(sequence(i + 1, size(docs)), "
                "j -> struct(docs[i - 1] AS doc_a, docs[j - 1] AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_SHARED)
    )


# --- incremental dedup: new batch vs indexed corpus -------------------------

_INC_GRAMS = """
list_distinct(CASE WHEN len(toks) >= 3
    THEN list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE CAST([] AS VARCHAR[]) END)
""".strip()

_INC_BAND_KEY = (
    "((sig[3 * b.band_idx + 1] * 31 + sig[3 * b.band_idx + 2]) % 2147483647"
    " * 31 + sig[3 * b.band_idx + 3]) % 2147483647"
)


@query(
    "dedup_incremental",
    oracle="WITH " + TOK_CTE + f"""
, grams_c AS (SELECT doc_id, {_INC_GRAMS} AS grams FROM tok)
, btok AS (
    SELECT t.doc_id + 100000 AS doc_id,
           CASE WHEN t.doc_id % 5 = 0 THEN list_reverse(t.toks)
                ELSE t.toks END AS toks
    FROM tok t
)
, grams_b AS (SELECT doc_id, {_INC_GRAMS} AS grams FROM btok)
, sig_c AS (SELECT doc_id, {_minhash_sql()} AS sig FROM grams_c)
, sig_b AS (SELECT doc_id, {_minhash_sql()} AS sig FROM grams_b)
, bands_c AS (
    SELECT doc_id, b.band_idx, {_INC_BAND_KEY} AS band_key
    FROM sig_c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
)
, bands_b AS (
    SELECT doc_id, b.band_idx, {_INC_BAND_KEY} AS band_key
    FROM sig_b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
)
, cand AS (
    SELECT DISTINCT nb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
    FROM bands_b nb JOIN bands_c cb
      ON cb.band_idx = nb.band_idx AND cb.band_key = nb.band_key
)
, scored AS (
    SELECT c.batch_doc, c.corpus_doc,
           len(list_filter(range(1, {MINHASH_K + 1}),
               i -> sb.sig[i] = sc.sig[i])) / {MINHASH_K} AS est_jaccard
    FROM cand c
    JOIN sig_b sb ON sb.doc_id = c.batch_doc
    JOIN sig_c sc ON sc.doc_id = c.corpus_doc
)
, hits AS (
    SELECT batch_doc, n_matches, corpus_doc AS best_match_doc,
           est_jaccard AS best_est
    FROM (
        SELECT batch_doc, corpus_doc, est_jaccard,
               CAST(COUNT(*) OVER (PARTITION BY batch_doc) AS BIGINT) AS n_matches,
               ROW_NUMBER() OVER (PARTITION BY batch_doc
                   ORDER BY est_jaccard DESC, corpus_doc) AS rn
        FROM scored WHERE est_jaccard >= {JACCARD_THRESHOLD}
    ) WHERE rn = 1
)
SELECT b.doc_id AS batch_doc,
       COALESCE(h.n_matches, 0)   AS n_matches,
       h.best_match_doc,
       h.best_est,
       (h.batch_doc IS NULL)      AS is_novel
FROM btok b LEFT JOIN hits h ON h.batch_doc = b.doc_id
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) dedup — the shape a 100 TB ingest actually runs
    daily: the NEW batch's LSH bands probe the EXISTING corpus's band
    index; the full corpus is never re-paired against itself. The batch is
    a deterministic re-delivery of the corpus with every 5th document
    token-REVERSED (novel content: reversed trigrams share almost nothing),
    so the result must flag exactly the mutated docs as novel and match
    the rest back to their originals.

    Scale shape: the corpus band index is the pre-built artifact (in
    production: bucketed/materialized once, appended per batch); the batch
    side is orders of magnitude smaller and its bands shuffle into the
    index's (band_idx, band_key) partitioning — work proportional to the
    BATCH, not the corpus. Verification stays O(1) per candidate
    (12-component signatures)."""
    corpus = _docs(spark, sf_dir)
    c_toks = corpus.select("doc_id", tokens(F.col("text")).alias("toks"))
    b_toks = c_toks.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.when(F.col("doc_id") % 5 == 0, F.reverse("toks"))
        .otherwise(F.col("toks"))
        .alias("toks"),
    )

    def sigs(toks_df: DataFrame) -> DataFrame:
        grams = toks_df.select(
            "doc_id", F.array_distinct(word_ngrams(F.col("toks"), 3)).alias("grams")
        )
        return grams.select("doc_id", minhash_signature(F.col("grams")).alias("sig"))

    def bands(sig_df: DataFrame, id_alias: str) -> DataFrame:
        return sig_df.select(
            F.col("doc_id").alias(id_alias),
            F.col("sig").alias(f"sig_{id_alias}"),
            F.explode(lsh_bands(F.col("sig"))).alias("b"),
        ).select(
            id_alias, f"sig_{id_alias}", F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_key").alias("band_key"),
        )

    b_bands = bands(sigs(b_toks), "batch_doc")
    c_bands = bands(sigs(c_toks), "corpus_doc")
    cand = (
        b_bands.join(c_bands, ["band_idx", "band_key"])
        .select("batch_doc", "corpus_doc", "sig_batch_doc", "sig_corpus_doc")
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    scored = cand.select(
        "batch_doc",
        "corpus_doc",
        signature_match_frac(
            F.col("sig_batch_doc"), F.col("sig_corpus_doc")
        ).alias("est_jaccard"),
    )
    hits = (
        scored.filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .groupBy("batch_doc")
        .agg(
            F.count("*").alias("n_matches"),
            # argmax by est, ties -> smallest corpus doc (negated id in the
            # struct ordering)
            F.max(
                F.struct(F.col("est_jaccard"), (-F.col("corpus_doc")).alias("negdoc"))
            ).alias("best"),
        )
        .select(
            "batch_doc",
            "n_matches",
            (-F.col("best.negdoc")).alias("best_match_doc"),
            F.col("best.est_jaccard").alias("best_est"),
        )
    )
    return (
        b_toks.select(F.col("doc_id").alias("batch_doc"))
        .join(hits, "batch_doc", "left")
        .select(
            "batch_doc",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_match_doc",
            "best_est",
            F.col("n_matches").isNull().alias("is_novel"),
        )
    )


# --- containment near-dup (small-doc-inside-big-doc) -------------------------

CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle="WITH " + DOCS2_CTE + TOK2_CTE + GRAMS2_CTE + f"""
, expl AS (
    SELECT doc_id, unnest(grams) AS g FROM grams_cte
), rare AS (
    SELECT doc_id, g FROM expl
    QUALIFY COUNT(*) OVER (PARTITION BY g) <= {DF_CAP}
), rsize AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rare GROUP BY 1
), inter AS (
    SELECT r1.doc_id AS doc_a, r2.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter_grams
    FROM rare r1 JOIN rare r2 ON r1.g = r2.g AND r1.doc_id < r2.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter_grams,
       LEAST(s1.n, s2.n) AS min_grams,
       i.inter_grams / LEAST(s1.n, s2.n) AS containment
FROM inter i
JOIN rsize s1 ON s1.doc_id = i.doc_a
JOIN rsize s2 ON s2.doc_id = i.doc_b
WHERE i.inter_grams / LEAST(s1.n, s2.n) >= {CONTAINMENT_THRESHOLD}
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-scored near-dup candidates: containment = |A∩B| /
    min(|A|, |B|) (Broder's containment coefficient) over the same
    DF-capped trigram inverted index as ``dedup_ngram_jaccard``. Jaccard
    misses a short document wholly embedded in a long one (the union term
    dilutes the score); containment is the metric exact-substring dedup
    work uses for exactly that case — the quote/boilerplate-inclusion
    shape a training corpus needs stripped. Same scale properties as the
    jaccard form: one shuffle on the shingle key, stop-shingle cap bounds
    every bucket. Pair stats come from the shared persisted
    ``_dedup_pair_stats_view`` (one index build serves this and
    ``dedup_ngram_jaccard``); the scoring expression is unchanged."""
    min_g = F.least("n1", "n2")
    return (
        _dedup_pair_stats_view(spark, sf_dir)
        .select(
            "doc_a", "doc_b", "inter_grams",
            min_g.alias("min_grams"),
            (F.col("inter_grams") / min_g).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


# --- exact duplicated-substring span extraction (Lee et al. 2022) -----------

ESUB_K = 8        # shingle length (tokens): the duplicate-detection grain
ESUB_SPAN_MIN = 12  # emit only maximal spans of >= this many tokens


@query(
    "dedup_exact_substring",
    oracle=f"""
WITH {TOK_CTE},
base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= {ESUB_K}),
pg AS (
    SELECT doc_id, CAST(i AS BIGINT) AS p,
           array_to_string(toks[i:i+{ESUB_K - 1}], ' ') AS g
    FROM base, LATERAL unnest(range(1, len(toks) - {ESUB_K} + 2)) AS t(i)
),
dup AS (SELECT g FROM pg GROUP BY g HAVING COUNT(*) > 1),
hits AS (SELECT doc_id, p FROM pg JOIN dup USING (g)),
isl AS (
    SELECT doc_id, p,
           SUM(CASE WHEN prev IS NULL OR p - prev > 1 THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY p) AS island
    FROM (SELECT doc_id, p,
                 LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
          FROM hits)
)
SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
       CAST(MAX(p) - MIN(p) + {ESUB_K} AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, island
HAVING MAX(p) - MIN(p) + {ESUB_K} >= {ESUB_SPAN_MIN}
""",
)
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans — the dedup family member the
    near-dup ops (MinHash/SimHash/Jaccard/containment) cannot express:
    the maximal token ranges of each document that appear VERBATIM
    elsewhere in the corpus (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — their suffix-array ExactSubstr,
    re-expressed relationally at shingle grain). Emits one row per
    maximal duplicated span of >= {ESUB_SPAN_MIN} tokens:
    (doc_id, span_start, span_len) — the ranges a training pipeline cuts
    out of documents rather than dropping whole near-dup docs.

    Relational re-expression: every {ESUB_K}-token shingle with its
    position; shingles with corpus frequency > 1 are "duplicated"; a
    maximal RUN of consecutive duplicated positions p..q covers tokens
    p..q+{ESUB_K}-1 (the island-merge identity). A span of L >= 2K-1
    duplicated tokens is found regardless of alignment; the K-grain
    quantizes shorter overhangs — the standard shingle-vs-suffix-array
    tradeoff, deterministic on both engines. All-integer end to end: no
    hash, no float, no tie-break needed (positions are unique per doc).

    100-TB shape: the gram count is the one corpus-sized shuffle and is
    MAP-COMBINABLE (exact counts); the duplicate filter returns only
    repeated grams, so the add-back is a gram-keyed semi join (both
    sides corpus-sized — correctly a shuffle join, not broadcast); the
    island merge is a per-doc window bounded by document length. A
    suffix array would need a global sort of every suffix; this plan
    never sorts anything wider than one document's hit list. At 100 TB
    the one knob to turn: key the count/join on xxhash64(gram) instead
    of the ~50-byte gram string (shuffle bytes ~6x smaller; collision
    false-positive probability ~ n²/2^64 — negligible but no longer
    EXACT, and not DuckDB-reproducible, which is why the oracle-checked
    form keeps the exact string key). Skewed hub grams (boilerplate)
    are AQE skew-join territory; the count side is map-combined either
    way."""
    return exact_substring_spans(fan_out(_docs(spark, sf_dir), "doc_id"))


def exact_substring_spans(d: DataFrame) -> DataFrame:
    """The dedup_exact_substring pipeline over any (doc_id, text) frame —
    factored out so property tests can drive it with in-memory corpora."""
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).where(
        F.size("toks") >= ESUB_K
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - ESUB_K + 1),
                lambda i: F.struct(
                    i.cast("long").alias("p"),
                    F.concat_ws(" ", F.slice("toks", i, ESUB_K)).alias("g"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.p", "s.g")
    dup = (
        grams.groupBy("g")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .select("g")
    )
    hits = grams.join(dup, "g", "semi").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    # two projections (lag, then running sum of the break flag): window
    # functions can't nest, and both ride the SAME doc_id sort — one
    # exchange, two Window nodes over it
    flagged = hits.select(
        "doc_id", "p", F.lag("p").over(w).alias("prev")
    ).select(
        "doc_id",
        "p",
        F.when(
            F.col("prev").isNull() | (F.col("p") - F.col("prev") > 1), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    isl = flagged.select(
        "doc_id",
        "p",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") - F.min("p") + ESUB_K).alias("span_len"),
        )
        .where(F.col("span_len") >= ESUB_SPAN_MIN)
        .select("doc_id", "span_start", "span_len")
    )


# --- 9. prefix-filtering set-similarity join (exact, all-pairs-free) ---------

PFJ_N = 5      # word 5-grams: sparser sets than the trigram ops, so the
               # prefix filter has real selectivity on this corpus
PFJ_T = 0.5    # Jaccard threshold — dyadic, so ceil(t*n) is exact in both
               # engines (0.5*n is an exact double for any int64 n)

_G5_SQL = (
    "list_distinct(CASE WHEN len(toks) >= 5 THEN "
    "list_transform(range(1, len(toks) - 3), i -> "
    "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
    "toks[i+3] || ' ' || toks[i+4]) "
    "ELSE CAST([] AS VARCHAR[]) END)"
)


@query(
    "jaccard_prefix_filter_join",
    oracle="WITH " + TOK_CTE + f"""
, g5 AS (
    SELECT doc_id, {_G5_SQL} AS grams FROM tok
), expl AS (
    SELECT doc_id, unnest(grams) AS g FROM g5
), sz AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM expl GROUP BY 1
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS inter_grams
    FROM expl a JOIN expl b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_grams,
       x.n + y.n - inter_grams AS union_grams,
       inter_grams / (x.n + y.n - inter_grams) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = doc_a
JOIN sz y ON y.doc_id = doc_b
WHERE inter_grams / (x.n + y.n - inter_grams) >= {PFJ_T}
""",
)
def q_jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    al. ICDE'06; Vernica et al. SIGMOD'10 is the MapReduce form): two
    5-gram shingle sets with Jaccard >= {PFJ_T} MUST share a token inside
    each set's (n - ceil(t*n) + 1)-length prefix under any global token
    order, so candidate generation joins only prefix tokens and the
    verify step touches only candidates. Ordering tokens rarest-first
    (ascending document frequency) makes prefixes maximally selective —
    hub shingles are pushed OUT of prefixes, which is the anti-skew
    property: no all-pairs bucket on a stop-shingle can form, WITHOUT
    the lossy DF_CAP semantics ``dedup_ngram_jaccard`` trades away. The
    oracle is the brute-force inverted-index join over ALL co-occurring
    pairs — equality proves the filter lossless.

    Plan: one shuffle on the shingle key to attach df, a per-doc window
    to rank shingles rarest-first, the candidate join on prefix shingles
    only, then per-candidate verification by array_intersect on the two
    gram arrays (O(|x|+|y|) per pair, pairs << all-pairs).

    100-TB: the candidate join's fan-out is sum over PREFIX tokens of
    freq² instead of sum over ALL tokens — on Zipfian corpora that is
    orders of magnitude smaller; verification is linear in candidates.
    Exactly the join a dedup pipeline runs when it must certify "no pair
    above t was missed" (LSH gives recall < 1)."""
    docs = _docs(spark, sf_dir)
    # persist the shingle arrays: the plan consumes garr THREE times
    # (prefix generation + both verify sides) and each un-persisted use
    # re-runs tokenize+ngram over the whole corpus — at 100 TB the gram
    # table is materialized once as a matter of course (the Vernica
    # paper's RID-pair stage does the same)
    garr = docs.select(
        "doc_id",
        F.array_distinct(word_ngrams(tokens(F.col("text")), PFJ_N)).alias(
            "grams"
        ),
    ).persist()
    # r16 (guide §1.2 remove-work / §2.4 remove shuffles): n is just
    # size(grams) — grams is already distinct — so it rides the explode
    # instead of a second Window(count) over the doc_id sort; and the
    # prefix table is PERSISTED because the candidate self-join consumes
    # it on BOTH sides — unpersisted, each side re-ran the whole
    # explode -> df-join -> window chain (two full Window stacks in the
    # r15 plan). Materializing the prefix set is the Vernica RID-pair
    # stage; it holds ~half the gram rows, strictly smaller than the
    # already-persisted gram table.
    sh = garr.select(
        "doc_id", F.size("grams").alias("n"), F.explode("grams").alias("g")
    )
    dfreq = sh.groupBy("g").agg(F.count("*").cast("long").alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "g")
    ranked = sh.join(dfreq, "g").select(
        "doc_id", "g", "n", F.row_number().over(w_doc).alias("rn")
    )
    prefix = (
        ranked.filter(
            F.col("rn") <= F.col("n") - F.ceil(F.lit(PFJ_T) * F.col("n")) + 1
        )
        .select("doc_id", "g")
        .persist()
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "g")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = garr.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = garr.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb")).cast("long")
    union = (
        F.size("ga").cast("long") + F.size("gb").cast("long")
        - F.col("inter_grams")
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter_grams"),
            "ga",
            "gb",
        )
        .select(
            "doc_a",
            "doc_b",
            "inter_grams",
            union.alias("union_grams"),
            (F.col("inter_grams") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= PFJ_T)
    )
