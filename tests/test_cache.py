"""Reuse is tied to the input snapshot: a session that outlives its data.

Each test works on copies of the sf0.001 test data under ``tmp_path`` and
checks a same-session result against the DuckDB oracle over the same
files, so a cached plan, persisted view or staged file built from an
older version of the data shows up as a wrong row count.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ccirecommenderdatapipeline_spark import plans
from ccirecommenderdatapipeline_spark.operators.planmemo import reset, staged
from ccirecommenderdatapipeline_spark.pipeline import run_daily_batch
from ccirecommenderdatapipeline_spark.plans import storage
from ccirecommenderdatapipeline_spark.schemas import TESTDATA_TABLES
from ccirecommenderdatapipeline_spark.session import build_jobs
from ccirecommenderdatapipeline_spark.sources.tables import load_table
from ccirecommenderdatapipeline_spark.streaming import jobs
from tests.conftest import SF_SMALL
from tools.check_oracle import duck_connect


def _copy_sf(dst) -> str:
    os.makedirs(dst)
    for t in TESTDATA_TABLES:
        shutil.copyfile(
            os.path.join(SF_SMALL, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
    return str(dst)


def _halve(sf_dir: str, table: str) -> None:
    """Rewrite one table in place with the first half of its rows."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _oracle_count(name: str, sf_dir: str) -> int:
    sql = f"SELECT COUNT(*) FROM ({plans.ORACLES[name]})"
    return duck_connect(sf_dir).execute(sql).fetchone()[0]


@pytest.fixture
def own_stage_roots(tmp_path, monkeypatch):
    """Point the staging roots at this test's dir, so nothing staged here
    reaches another test."""
    monkeypatch.setattr(jobs, "STAGE_ROOT", str(tmp_path / "stream_stage"))
    monkeypatch.setattr(storage, "STORAGE_ROOT", str(tmp_path / "storage"))


@pytest.mark.parametrize(
    "name, table",
    [
        ("cci", "lineitem"),  # a persisted shared view
        ("training_order_shuffle", "documents"),  # a query-local persist only
    ],
)
def test_in_place_change_reaches_the_same_session(spark, tmp_path, name, table):
    d = _copy_sf(tmp_path / "sf0.001")
    full = plans.QUERIES[name](spark, d).count()
    assert full == _oracle_count(name, d)
    _halve(d, table)
    halved = plans.QUERIES[name](spark, d).count()
    assert halved == _oracle_count(name, d) < full


@pytest.mark.parametrize(
    "name, table",
    [
        ("latest_partition", "orders"),  # staged under the storage root
        ("stream_tumbling_agg", "events"),  # staged under the streaming root
    ],
)
def test_dirs_with_one_basename_stage_their_own_inputs(
    spark, tmp_path, own_stage_roots, name, table
):
    a = _copy_sf(tmp_path / "a" / "sf0.001")
    b = _copy_sf(tmp_path / "b" / "sf0.001")
    _halve(b, table)
    counts = [plans.QUERIES[name](spark, d).count() for d in (a, b)]
    assert counts == [_oracle_count(name, d) for d in (a, b)]
    assert counts[0] != counts[1]


def test_roundtrip_output_is_rewritten_on_every_call(spark, tmp_path, own_stage_roots):
    # the round-trip queries verify the write path, so a second call must
    # write again rather than read what the first one left
    d = _copy_sf(tmp_path / "sf0.001")

    def files(out):
        return {f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")}

    first = files(storage.evolved_orders(spark, d))
    second = files(storage.evolved_orders(spark, d))
    assert first and second and not first & second


def test_failed_stage_write_leaves_nothing_behind(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "t.parquet").write_bytes(b"x")
    root = tmp_path / "stage"

    def write(out):
        os.makedirs(out)
        open(os.path.join(out, "part-0"), "w").close()
        raise RuntimeError("writer failed")

    with pytest.raises(RuntimeError):
        staged(str(root), "events", str(src), write)
    assert os.listdir(root) == []


def _add_column(sf_dir: str, table: str) -> None:
    """Rewrite one table in place with an extra ``c_added`` column."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    pq.write_table(t.append_column("c_added", pa.array(range(t.num_rows))), path)


def test_schema_is_inferred_once_per_snapshot(spark, tmp_path):
    d = _copy_sf(tmp_path / "sf0.001")
    _, first = build_jobs(spark, lambda: load_table(spark, d, "customer"))
    df, second = build_jobs(spark, lambda: load_table(spark, d, "customer"))
    assert first > 0 and second == 0
    assert df.count() == pq.read_metadata(f"{d}/customer.parquet").num_rows


def test_in_place_change_reads_the_new_schema(spark, tmp_path):
    d = _copy_sf(tmp_path / "sf0.001")
    assert "c_added" not in load_table(spark, d, "customer").columns
    _add_column(d, "customer")
    df = load_table(spark, d, "customer")
    assert "c_added" in df.columns
    assert df.agg({"c_added": "max"}).first()[0] == df.count() - 1


def test_dirs_with_one_basename_read_their_own_schema(spark, tmp_path):
    a = _copy_sf(tmp_path / "a" / "sf0.001")
    b = _copy_sf(tmp_path / "b" / "sf0.001")
    _add_column(b, "customer")
    cols = [load_table(spark, d, "customer").columns for d in (a, b, a)]
    assert ["c_added" in c for c in cols] == [False, True, False]


def test_reset_drops_the_schema_entries(spark, tmp_path):
    d = _copy_sf(tmp_path / "sf0.001")
    load_table(spark, d, "customer")
    assert ("schema", "customer") in spark._shared_view_plan_cache
    reset(spark)
    assert ("schema", "customer") not in spark._shared_view_plan_cache
    _, jobs = build_jobs(spark, lambda: load_table(spark, d, "customer"))
    assert jobs > 0


@contextlib.contextmanager
def _jvm_warnings(spark):
    """Collect the JVM's WARN-and-above log lines while the block runs."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(),
        None, writer, "test-cache-warnings", False, True,
    )
    appender.start()
    root.addAppender(appender, jvm.org.apache.logging.log4j.Level.WARN, None)
    ctx.updateLoggers()
    lines: list[str] = []
    try:
        yield lines
    finally:
        root.removeAppender("test-cache-warnings")
        ctx.updateLoggers()
        appender.stop()
        lines.extend(writer.toString().splitlines())


def _cache_sizes(spark) -> tuple[int, int]:
    """(plan-memo entries, RDDs with cached partitions), as perfbench
    reports them."""
    memo = sum(
        len(getattr(spark, a, {}))
        for a in ("_shared_view_plan_cache", "_literal_table_plan_cache")
    )
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return memo, sum(1 for i in infos if i.numCachedPartitions() > 0)


@pytest.fixture(scope="module")
def three_days(spark, tmp_path_factory):
    """run_daily_batch over three snapshot paths in one session: the
    cache sizes after each day and the JVM warnings of the whole run."""
    root = tmp_path_factory.mktemp("days")
    sizes = []
    with _jvm_warnings(spark) as warnings:
        for day in range(3):
            snap = _copy_sf(root / f"snap{day}")
            run_daily_batch(spark, snap, str(root / f"out{day}"))
            sizes.append(_cache_sizes(spark))
    return sizes, warnings


def test_daily_batch_cache_stays_flat_across_snapshots(three_days):
    sizes, _ = three_days
    assert sizes[0][0] > 0 and sizes[0][1] > 0
    assert sizes[1] == sizes[0] and sizes[2] == sizes[0], sizes


def test_daily_batch_never_caches_cached_data(three_days):
    _, warnings = three_days
    assert not [w for w in warnings if "Asked to cache already cached data" in w]
