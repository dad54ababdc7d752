"""Round-12 contracts: the short-page drain predicate for the execution
feed (plans/broker.py:q_stream_execution_feed stops the run loop as soon
as a run delivers fewer rows than a full page — no empty probe run)."""

from __future__ import annotations


def _feed_reader(total: int, batch: int):
    src_cls = __import__(
        "ccirecommenderdatapipeline_spark.sources.execution_feed",
        fromlist=["make_stream_source"],
    ).make_stream_source()
    return src_cls({"total": str(total), "batch": str(batch)}).simpleStreamReader(None)


def _drain_pages(total: int, batch: int) -> list[int]:
    """One read() per availableNow run (the simple-reader prefetch shape);
    stop on the query's short-page predicate `rows_this_run < page`."""
    reader = _feed_reader(total, batch)
    off = reader.initialOffset()
    pages = []
    while True:
        rows, off = reader.read(off)
        n = len(list(rows))
        pages.append(n)
        if n < batch:
            break
    return pages


def test_short_page_drain_is_three_runs_at_query_constants():
    # the query's fixture constants: 1000 rows in 373-row pages
    pages = _drain_pages(1000, 373)
    assert pages == [373, 373, 254], pages
    assert sum(pages) == 1000


def test_short_page_drain_exact_divisor_needs_empty_probe():
    # when total % batch == 0 the last full page can't signal the end —
    # the predicate pays exactly one empty probe run, never stops early
    pages = _drain_pages(12, 4)
    assert pages == [4, 4, 4, 0], pages
    assert sum(pages) == 12


def test_short_page_drain_single_run_when_page_exceeds_total():
    pages = _drain_pages(5, 100)
    assert pages == [5], pages


def test_drained_rows_are_exactly_once_and_complete():
    reader = _feed_reader(1000, 373)
    off = reader.initialOffset()
    seen: list[int] = []
    while True:
        rows, off = reader.read(off)
        chunk = [r[0] for r in rows]
        seen.extend(chunk)
        if len(chunk) < 373:
            break
    assert seen == list(range(1000))


# --- oracle-gate comparison kernel (check_oracle.normalize/df_multiset) -----
# Every correctness verdict flows through this kernel; it had no direct
# tests. Pins: full-precision float repr, NaN equality, -0.0/0.0
# distinction, date/datetime isoformat, nested-collection normalization,
# and column-order insensitivity.


def _co():
    import os, sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import check_oracle
    return check_oracle


def test_multiset_compare_is_column_order_insensitive():
    co = _co()
    a = co.df_multiset(["x", "y"], [(1, "a"), (2, "b")])
    b = co.df_multiset(["y", "x"], [("a", 1), ("b", 2)])
    assert a == b


def test_normalize_floats_full_precision_and_nan():
    co = _co()
    # full repr: 0.1 + 0.2 must NOT equal 0.3 (the gate exists to surface
    # FP drift, not hide it behind rounding)
    assert co.normalize(0.1 + 0.2) != co.normalize(0.3)
    # NaN compares equal to itself through the string sentinel
    assert co.normalize(float("nan")) == co.normalize(float("nan"))
    # -0.0 and 0.0 are DISTINCT under repr — a sign-of-zero divergence
    # between engines is reported, not swallowed (documented behavior)
    assert co.normalize(-0.0) != co.normalize(0.0)


def test_normalize_temporal_and_nested():
    import datetime

    co = _co()
    d = datetime.date(2026, 8, 16)
    ts = datetime.datetime(2026, 8, 16, 12, 30, 45)
    assert co.normalize(d) == "2026-08-16"
    assert co.normalize(ts) == "2026-08-16T12:30:45"
    # Spark returns lists, DuckDB tuples — both normalize to tuples,
    # recursively (array<float> embeddings, array<struct> packs)
    assert co.normalize([1.5, [2.5, 3.5]]) == co.normalize((1.5, (2.5, 3.5)))


def test_multiset_compare_counts_duplicates():
    co = _co()
    a = co.df_multiset(["x"], [(1,), (1,), (2,)])
    b = co.df_multiset(["x"], [(1,), (2,), (2,)])
    assert a != b  # same set, different multiplicities


def test_multiset_compare_hypothesis_roundtrip():
    """Property: any row permutation + column permutation of the same
    data compares equal; changing any single cell compares unequal."""
    from hypothesis import given, settings, strategies as st

    co = _co()
    cell = st.one_of(
        st.integers(-5, 5),
        st.floats(allow_nan=False, width=64),
        st.text(max_size=3),
        st.none(),
    )
    rows = st.lists(st.tuples(cell, cell), min_size=1, max_size=6)

    @settings(max_examples=50, deadline=None)
    @given(rows=rows, seed=st.integers(0, 2**16))
    def prop(rows, seed):
        import random

        rng = random.Random(seed)
        shuffled = rows[:]
        rng.shuffle(shuffled)
        assert co.df_multiset(["a", "b"], rows) == co.df_multiset(
            ["a", "b"], shuffled
        )
        flipped = [("b", "a")[i] for i in range(2)]
        swapped = [(r[1], r[0]) for r in rows]
        assert co.df_multiset(["a", "b"], rows) == co.df_multiset(
            flipped, swapped
        )

    prop()
