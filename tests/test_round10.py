"""Round-10 additions: exact-substring span extraction (the streaming
binned-KS test lives in test_streaming.py)."""

from __future__ import annotations


def _alpha(i: int) -> str:
    """Distinct pure-alpha token (the tokenizer strips digits)."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("a") + r) + s
    return "q" + s


def test_exact_substring_spans_hand_corpus(spark, tmp_path):
    """Span semantics pinned on a hand-built corpus: a 16-token run
    shared verbatim by two documents (different offsets) yields exactly
    one maximal span per doc at the right start/length; a unique doc
    and a sub-threshold (< SPAN_MIN) shared run yield nothing."""
    from ccirecommenderdatapipeline_spark.plans.text import (
        ESUB_K,
        ESUB_SPAN_MIN,
        q_dedup_exact_substring,
    )

    assert (ESUB_K, ESUB_SPAN_MIN) == (8, 12)  # expectations below assume
    shared = [_alpha(100 + i) for i in range(16)]
    short = [_alpha(700 + i) for i in range(ESUB_SPAN_MIN - 2)]  # 10 < 12
    docs = {
        1: [_alpha(i) for i in range(4)] + shared + [_alpha(200 + i) for i in range(10)],
        2: [_alpha(300 + i) for i in range(6)] + shared + [_alpha(400 + i) for i in range(3)],
        3: [_alpha(500 + i) for i in range(25)],
        4: [_alpha(600 + i) for i in range(5)] + short + [_alpha(800 + i) for i in range(5)],
        5: [_alpha(900 + i) for i in range(5)] + short + [_alpha(950 + i) for i in range(5)],
    }
    rows = [
        (did, " ".join(toks), "en", "test", len(" ".join(toks)))
        for did, toks in docs.items()
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["span_start"], r["span_len"])
        for r in q_dedup_exact_substring(spark, str(tmp_path)).collect()
    }
    # doc 1: shared at tokens 5..20 -> one span, start 5, len 16
    # doc 2: shared at tokens 7..22 -> one span, start 7, len 16
    # doc 3: unique; docs 4/5: shared run of 10 < SPAN_MIN -> nothing
    assert got == {1: (5, 16), 2: (7, 16)}


def test_exact_substring_spans_property(spark):
    """Hypothesis: on random small-vocab corpora (collision-rich), the
    Spark pipeline's spans equal a brute-force Python reference of the
    declared semantics (corpus-frequency>1 K-shingles, island-merged,
    length-filtered)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ccirecommenderdatapipeline_spark.plans.text import (
        ESUB_K,
        ESUB_SPAN_MIN,
        exact_substring_spans,
    )

    vocab = [_alpha(i) for i in range(6)]  # tiny vocab forces repeats
    corpus_st = st.lists(
        st.lists(st.sampled_from(vocab), min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    )

    def reference(docs: list[list[str]]) -> set[tuple[int, int, int]]:
        grams: Counter = Counter()
        pos: dict[int, list[int]] = {}
        for did, toks in enumerate(docs):
            for p in range(1, len(toks) - ESUB_K + 2):
                grams[" ".join(toks[p - 1 : p - 1 + ESUB_K])] += 1
        for did, toks in enumerate(docs):
            pos[did] = [
                p
                for p in range(1, len(toks) - ESUB_K + 2)
                if grams[" ".join(toks[p - 1 : p - 1 + ESUB_K])] > 1
            ]
        spans = set()
        for did, ps in pos.items():
            run: list[int] = []
            for p in ps + [None]:
                if run and (p is None or p != run[-1] + 1):
                    ln = run[-1] - run[0] + ESUB_K
                    if ln >= ESUB_SPAN_MIN:
                        spans.add((did, run[0], ln))
                    run = []
                if p is not None:
                    run.append(p)
        return spans

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(corpus_st)
    def check(docs):
        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["span_start"], r["span_len"])
            for r in exact_substring_spans(df).collect()
        }
        assert got == reference(docs), docs

    check()
