"""Structured Streaming semantics tests (SURVEY.md §2.9 T1-T6):
- watermark append mode withholds exactly the windows not yet closed;
- two-phase incremental ingestion through a foreachBatch MERGE equals the
  one-shot batch result (T2/T3), resumed from the caller's checkpoint;
- applyInPandasWithState carries state across micro-batches (T6);
- a stream's state partitions are sized by its staged bytes, and its
  result does not depend on that count;
- a stream call leaves no checkpoint and no temp view behind;
- each foreachBatch sketch and view stream equals its batch form.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ccirecommenderdatapipeline_spark import plans
from ccirecommenderdatapipeline_spark.session import build_jobs
from ccirecommenderdatapipeline_spark.sources.tables import load_table
from ccirecommenderdatapipeline_spark.streaming import jobs
from ccirecommenderdatapipeline_spark.streaming.jobs import (
    events_stream,
    read_upsert_target,
    run_stream,
    stage_events_dir,
    stateful_user_counts,
    tumbling_agg_plan,
    upsert_foreach_batch,
)
from tests.conftest import SF_SMALL


def test_watermark_append_withholds_open_windows(spark):
    staged = stage_events_dir(spark, SF_SMALL)
    sdf = events_stream(spark, staged).withWatermark("ts", "1 hour")
    appended = run_stream(tumbling_agg_plan(sdf), staged).toPandas()

    batch = tumbling_agg_plan(load_table(spark, SF_SMALL, "events")).toPandas()
    max_us = load_table(spark, SF_SMALL, "events").agg(
        F.max(F.unix_micros("ts"))
    ).first()[0]
    watermark_us = max_us - 3_600_000_000
    closed = batch[batch["w_end_us"] <= watermark_us]
    open_ = batch[batch["w_end_us"] > watermark_us]
    assert len(open_) > 0  # the fixture does leave windows open
    got = set(appended["w_start_us"])
    assert got == set(closed["w_start_us"])


def test_incremental_foreach_batch_upsert_equals_oneshot(spark, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    cut_hi = ev.approxQuantile("event_id", [0.6], 0.0)[0]
    cut_lo = ev.approxQuantile("event_id", [0.4], 0.0)[0]
    work = str(tmp_path)
    src, target, ckpt = f"{work}/src", f"{work}/target", f"{work}/ckpt"

    # phase 1: first 60% of events arrive
    ev.filter(F.col("event_id") <= cut_hi).write.mode("overwrite").parquet(src)

    def run_phase():
        run_stream(
            events_stream(spark, src), src,
            foreach_batch=upsert_foreach_batch(target), checkpoint=ckpt,
        )

    run_phase()
    n_phase1 = read_upsert_target(spark, target).count()

    # phase 2: an OVERLAPPING batch arrives (40%..100% — the 40-60% band is
    # re-delivered, as in the reference's overlapping re-fetch, T3); the
    # file source only picks up NEW files, the MERGE view dedups re-delivery
    overlap = f"{work}/overlap"
    ev.filter(F.col("event_id") >= cut_lo).write.mode("overwrite").parquet(overlap)
    for i, f in enumerate(glob.glob(f"{overlap}/part-*.parquet")):
        shutil.copy(f, f"{src}/late-{i}.parquet")
    run_phase()

    merged = read_upsert_target(spark, target)
    assert merged.count() == ev.count() > n_phase1
    assert merged.select(F.sum("event_id")).first()[0] == ev.select(F.sum("event_id")).first()[0]


def test_stateful_counts_across_microbatches(spark, tmp_path):
    staged = stage_events_dir(spark, SF_SMALL, n_files=4)
    ckpt = str(tmp_path / "ckpt")
    got = {
        r["user_id"]: r["n_events"]
        for r in stateful_user_counts(spark, staged, ckpt).collect()
    }
    expected = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_stateful_cci_stream_equals_batch(spark, tmp_path):
    """T6 as true streaming: the stateful rolling-CCI operator over 3
    date-ordered micro-batches must equal the batch CCI computation row for
    row (state carries the 19-row lookback across batch boundaries)."""
    from ccirecommenderdatapipeline_spark.plans.cci import cci_view
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stage_price_batches,
        stateful_cci_stream,
    )

    staged = stage_price_batches(spark, SF_SMALL, n_batches=3)
    got = (
        stateful_cci_stream(spark, staged, str(tmp_path / "ckpt"))
        .toPandas()
        .sort_values(["symbol", "date"])
    )
    exp = (
        cci_view(spark, SF_SMALL)
        .select("symbol", "date", "open_cci", "close_cci")
        .toPandas()
        .sort_values(["symbol", "date"])
    )
    assert len(got) == len(exp) > 0
    m = got.merge(exp, on=["symbol", "date"], suffixes=("", "_b"))
    assert len(m) == len(exp)
    for c in ["open_cci", "close_cci"]:
        both_null = m[c].isna() & m[f"{c}_b"].isna()
        diff = (m[c] - m[f"{c}_b"]).abs() < 1e-9
        assert (both_null | diff).all(), c


def test_tws_user_stats_matches_batch(spark):
    """transformWithStateInPandas running per-user stats == batch GROUP BY.

    Runs everywhere since r11: ensure_protobuf() (called inside the
    registered query) prefers a native google.protobuf and otherwise
    ships the vendored pure-Python wire shim to driver and workers —
    the last pytest skip in the suite is gone."""
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_tws_user_stats,
    )
    from ccirecommenderdatapipeline_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    ensure_protobuf(spark)
    from ccirecommenderdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    got = stream_tws_user_stats(spark, SF_SMALL)
    want = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.max(F.unix_micros("ts")).alias("max_ts_us"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_session_append_equals_batch_builtin(spark):
    """APPEND-mode streaming session windows must emit exactly the batch
    session_window result — every session once, none retained, sentinel
    excluded."""
    from ccirecommenderdatapipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    stream = {
        (r["user_id"], r["w_start_us"]): r
        for r in QUERIES["stream_session_agg"](spark, sf).collect()
    }
    batch = {
        (r["user_id"], r["w_start_us"]): r
        for r in QUERIES["session_window_builtin"](spark, sf).collect()
    }
    assert stream.keys() == batch.keys()
    for k, b in batch.items():
        s = stream[k]
        assert (s["w_end_us"], s["n_events"], s["sum_value"]) == (
            b["w_end_us"], b["n_events"], b["sum_value"]
        )
    assert all(uid >= 0 for uid, _ in stream)


def test_staging_rejects_reserved_sentinel_key(spark):
    """The sentinel strip is safe only because SENTINEL_USER is reserved:
    staging must refuse a source that already carries it (r6 ADVICE —
    previously the sentinel was -1 and a legitimate -1 user would have
    been silently dropped)."""
    import pytest

    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        SENTINEL_USER,
        _assert_sentinel_free,
    )

    ev = load_table(spark, SF_SMALL, "events")
    _assert_sentinel_free(ev)  # real data is clean
    # a LEGITIMATE negative id must NOT trip the guard (only the reserved key)
    _assert_sentinel_free(
        ev.limit(3).withColumn("user_id", F.lit(-1).cast("long"))
    )
    poisoned = ev.limit(1).withColumn(
        "user_id", F.lit(SENTINEL_USER).cast("long")
    )
    with pytest.raises(ValueError, match="reserved sentinel"):
        _assert_sentinel_free(ev.unionByName(poisoned))


def test_file_min_ts_key_orders_empty_files_first(spark, tmp_path):
    """repartitionByRange can emit an EMPTY partition; its staged file has
    min(ts)=NULL and must sort (first), not crash the None<Timestamp
    comparison inside the delivery-order ranking (r6 ADVICE)."""
    from ccirecommenderdatapipeline_spark.streaming.jobs import _file_min_ts_key

    ev = load_table(spark, SF_SMALL, "events").select("ts")
    full = os.path.join(tmp_path, "full")
    empty = os.path.join(tmp_path, "empty")
    ev.limit(5).coalesce(1).write.parquet(full)
    ev.limit(0).coalesce(1).write.parquet(empty)
    f_full = glob.glob(os.path.join(full, "part-*.parquet"))[0]
    f_empty = glob.glob(os.path.join(empty, "part-*.parquet"))[0]
    ranked = sorted([f_full, f_empty], key=lambda f: _file_min_ts_key(spark, f))
    assert ranked == [f_empty, f_full]


def test_stream_outer_join_equals_batch_left_join(spark):
    from ccirecommenderdatapipeline_spark import plans
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        outer_attribution_join_plan,
    )
    from ccirecommenderdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    got = plans.QUERIES["stream_outer_join"](spark, SF_SMALL)
    ev = load_table(spark, SF_SMALL, "events")
    want = outer_attribution_join_plan(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the semantic the inner join never exercises: null-extended rows exist
    assert got.filter(F.col("click_id").isNull()).count() > 0


def test_warm_staged_stream_build_runs_no_spark_job(spark):
    """A staged dir's schema is memoized per snapshot of the dir, so only
    the first stream built over it runs Spark's schema-inference job."""
    staged = stage_events_dir(spark, SF_SMALL)
    events_stream(spark, staged)
    _, jobs = build_jobs(spark, lambda: events_stream(spark, staged))
    assert jobs == 0


MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


class _StatePartitions(StreamingQueryListener):
    """The numShufflePartitions of every state operator in every progress
    event the session's streams report."""

    def __init__(self):
        self.seen = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.seen.update(
            op.numShufflePartitions for op in event.progress.stateOperators
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _run_stream(spark, name, min_partition_size=None):
    """Registered stream ``name`` at SF_SMALL: its result rows as a
    multiset and the state partition counts its progress reported, with
    the partition floor lowered to ``min_partition_size`` if given."""
    listener = _StatePartitions()
    prev = spark.conf.get(MIN_PARTITION_SIZE)
    spark.streams.addListener(listener)
    try:
        if min_partition_size is not None:
            spark.conf.set(MIN_PARTITION_SIZE, min_partition_size)
        rows = Counter(map(tuple, plans.QUERIES[name](spark, SF_SMALL).collect()))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.conf.set(MIN_PARTITION_SIZE, prev)
        spark.streams.removeListener(listener)
    return rows, listener.seen


def test_state_partitions_sized_by_staged_bytes(spark):
    """Staged events at SF_SMALL are ~31 KB, under the 1 MB partition
    floor, so the state is one partition; a lowered floor raises the
    count up to the shuffle-partition ceiling, and the session's shuffle
    partitions are left as they were."""
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if ceiling < 2:
        pytest.skip("a one-partition ceiling allows only one state partition")
    _, seen = _run_stream(spark, "stream_tumbling_agg")
    assert seen == {1}
    _, seen = _run_stream(spark, "stream_tumbling_agg", "4k")
    assert len(seen) == 1 and 1 < seen.pop() <= ceiling
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == ceiling


@pytest.mark.parametrize(
    "name", ["stream_tumbling_agg", "stream_stateful_counts", "stream_outer_join"]
)
def test_stream_result_does_not_depend_on_state_partitions(spark, name):
    """The same rows at one state partition and at several."""
    if int(spark.conf.get("spark.sql.shuffle.partitions")) < 2:
        pytest.skip("a one-partition ceiling allows only one state partition")
    one, seen_one = _run_stream(spark, name)
    many, seen_many = _run_stream(spark, name, "4k")
    assert seen_one == {1}
    assert min(seen_many) > 1
    assert sum(one.values()) > 0
    assert one == many


def test_stream_calls_leave_no_checkpoint_or_temp_view(spark, tmp_path, monkeypatch):
    """The runner deletes each checkpoint it creates and drops its memory
    sink's temp view; the rows still collect afterwards, from the
    analyzed plan or from the target dir left under STAGE_ROOT."""
    monkeypatch.setattr(jobs, "STAGE_ROOT", str(tmp_path))
    views = sorted(t.name for t in spark.catalog.listTables())
    for name in ["stream_tumbling_agg", "stream_stateful_counts", "stream_hll_merge"]:
        df = plans.QUERIES[name](spark, SF_SMALL)
        assert os.listdir(tmp_path / "ckpt") == [], name
        assert sorted(t.name for t in spark.catalog.listTables()) == views, name
        assert len(df.collect()) > 0, name


def test_stream_psi_drift_matches_python(spark):
    """The streaming-maintained PSI (frozen base-slice edges, additive
    per-batch histogram merge) must equal a brute-force single-pass
    recompute with the same frozen-edge semantics."""
    from ccirecommenderdatapipeline_spark.operators.lnq import LN_UNIT_SCALE
    from ccirecommenderdatapipeline_spark.plans.events import (
        PSI_BINS,
        PSI_SPLIT_DAY,
    )
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_psi_drift,
    )

    got = {r["event_type"]: r for r in stream_psi_drift(spark, SF_SMALL).collect()}

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_type", "value", F.dayofmonth("ts").alias("dom"))
        .collect()
    )
    base: dict[str, list[float]] = {}
    cur: dict[str, list[float]] = {}
    for r in ev:
        (base if r["dom"] <= PSI_SPLIT_DAY else cur).setdefault(
            r["event_type"], []
        ).append(r["value"])
    assert set(got) == set(base)  # types with frozen edges only
    for et, b_vals in base.items():
        lo, hi = min(b_vals), max(b_vals)

        def bucket(v: float) -> int:
            if hi == lo:
                return 0
            return min(max(int(math.floor((v - lo) / (hi - lo) * PSI_BINS)), 0),
                       PSI_BINS - 1)

        c_b = [0] * PSI_BINS
        c_c = [0] * PSI_BINS
        for v in b_vals:
            c_b[bucket(v)] += 1
        for v in cur.get(et, []):
            c_c[bucket(v)] += 1
        n_b, n_c = sum(c_b), sum(c_c)
        psi = 0.0
        for k in range(PSI_BINS):
            # r11 nano-nat replay: exact integer numerator over the
            # shared denominator (n_b+B)(n_c+B)
            p = (c_b[k] + 1) / (n_b + PSI_BINS)
            q = (c_c[k] + 1) / (n_c + PSI_BINS)
            v = math.log(p / q) * LN_UNIT_SCALE
            u = int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))
            num = (c_b[k] + 1) * (n_c + PSI_BINS) - (c_c[k] + 1) * (n_b + PSI_BINS)
            psi += (
                num * u / ((n_b + PSI_BINS) * (n_c + PSI_BINS)) / LN_UNIT_SCALE
            )
        row = got[et]
        assert row["n_base"] == n_b and row["n_current"] == n_c, et
        assert abs(row["psi"] - psi) < 1e-7, (et, row["psi"], psi)
        assert row["psi"] >= 0.0 or abs(row["psi"]) < 1e-9, et


def test_stream_ks_drift_matches_python(spark):
    """The streaming-maintained binned KS (frozen base-slice edges,
    additive per-batch histogram merge) must equal a brute-force
    single-pass recompute with the same frozen-edge semantics — and,
    because the readout has no transcendental and no rounding rule,
    the doubles must match EXACTLY, not approximately."""
    from ccirecommenderdatapipeline_spark.plans.events import (
        KS_BINS,
        PSI_SPLIT_DAY,
    )
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_ks_drift,
    )

    got = {r["event_type"]: r for r in stream_ks_drift(spark, SF_SMALL).collect()}

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_type", "value", F.dayofmonth("ts").alias("dom"))
        .collect()
    )
    base: dict[str, list[float]] = {}
    cur: dict[str, list[float]] = {}
    for r in ev:
        (base if r["dom"] <= PSI_SPLIT_DAY else cur).setdefault(
            r["event_type"], []
        ).append(r["value"])
    assert set(got) == set(base)  # types with frozen edges only
    for et, b_vals in base.items():
        lo, hi = min(b_vals), max(b_vals)

        def bucket(v: float) -> int:
            if hi == lo:
                return 0
            return min(
                max(int(math.floor((v - lo) / (hi - lo) * KS_BINS)), 0),
                KS_BINS - 1,
            )

        c_b = [0] * KS_BINS
        c_c = [0] * KS_BINS
        for v in b_vals:
            c_b[bucket(v)] += 1
        for v in cur.get(et, []):
            c_c[bucket(v)] += 1
        n_b, n_c = sum(c_b), sum(c_c)
        ks, cum_b, cum_c = 0.0, 0, 0
        for k in range(KS_BINS):
            cum_b += c_b[k]
            cum_c += c_c[k]
            ks = max(ks, abs(cum_b / n_b - cum_c / n_c))
        row = got[et]
        assert row["n_base"] == n_b and row["n_current"] == n_c, et
        if n_c > 0:
            assert row["ks"] == ks, (et, row["ks"], ks)  # bit-exact
            assert 0.0 <= row["ks"] <= 1.0, et
        else:
            assert row["ks"] is None, et


def test_stream_ivm_equals_batch_view(spark):
    """The streaming-maintained IVM view must equal the batch merge op
    row-for-row (same algebra, different batching)."""
    from ccirecommenderdatapipeline_spark.plans.storage import (
        q_ivm_aggregate_merge,
    )
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_ivm_aggregate,
    )

    batch = {
        (r["month"], r["priority"]): (r["n_orders"], r["revenue"])
        for r in q_ivm_aggregate_merge(spark, SF_SMALL).collect()
    }
    stream = {
        (r["month"], r["priority"]): (r["n_orders"], r["revenue"])
        for r in stream_ivm_aggregate(spark, SF_SMALL).collect()
    }
    assert batch == stream and len(batch) > 0


def test_stream_quantile_sketch_booleans(spark):
    """All driver-checked bound booleans hold under real micro-batching."""
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_quantile_sketch,
    )

    rows = stream_quantile_sketch(spark, SF_SMALL).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["sketch_q10_ok"] and r["sketch_q50_ok"] and r["sketch_q90_ok"]
        assert r["summary_sublinear"]


def test_stream_decayed_popularity_equals_batch(spark):
    """The streamed partial-merge result is row-identical to the batch
    operator — dyadic additivity across micro-batches."""
    from ccirecommenderdatapipeline_spark.plans.recommender import (
        q_decayed_popularity,
    )
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_decayed_popularity,
    )

    batch = {tuple(r) for r in q_decayed_popularity(spark, SF_SMALL).collect()}
    stream = {tuple(r) for r in stream_decayed_popularity(spark, SF_SMALL).collect()}
    assert batch == stream


def test_stream_hll_equals_batch(spark):
    """Streamed register-MAX merge reproduces the batch HLL row exactly
    (idempotent merge — replay-safe)."""
    from ccirecommenderdatapipeline_spark.plans.corpus import q_hll_distinct
    from ccirecommenderdatapipeline_spark.streaming.jobs import stream_hll_merge

    batch = q_hll_distinct(spark, SF_SMALL).collect()
    stream = stream_hll_merge(spark, SF_SMALL).collect()
    assert [tuple(r) for r in batch] == [tuple(r) for r in stream]
