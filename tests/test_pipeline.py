"""End-to-end daily batch (E1+E2+E3): every stage table written, readable,
and mutually consistent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ccirecommenderdatapipeline_spark import pipeline, plans
from ccirecommenderdatapipeline_spark.pipeline import run_daily_batch
from ccirecommenderdatapipeline_spark.session import codegen_compiles
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def first_day(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("daily"))
    return out, run_daily_batch(spark, SF_SMALL, out)


def test_daily_batch_end_to_end(spark, first_day):
    out, counts = first_day

    assert counts["symbol_list"] > 0
    assert counts["prices"] > counts["cci"] * 0 and counts["prices"] == counts["cci"]
    # one best row per symbol-with-trades, identical across the 3 criteria
    assert (
        counts["best_win"]
        == counts["best_return"]
        == counts["best_return_per_days_held"]
        > 0
    )
    # reco/candidates are subsets of the symbols with best rows
    assert counts["reco_revenue"] <= counts["best_return"]
    assert counts["buy_candidates"] <= 20
    assert counts["sell_decisions"] > 0
    assert counts["order_reconciliation"] > 0

    # the counts observed during the writes are the written tables'
    written = {t: spark.read.parquet(os.path.join(out, t)).count() for t in counts}
    assert counts == written


def test_second_day_reuses_generated_code(spark, first_day):
    """A rerun on the same snapshot compiles no generated class: the
    session's codegen cache holds a whole day's working set (Spark's
    default of 100 entries recompiled about 110 classes here)."""
    out, counts = first_day
    before = codegen_compiles(spark)
    # idempotence: a rerun overwrites to the same counts (S13 semantics)
    assert run_daily_batch(spark, SF_SMALL, out) == counts
    assert codegen_compiles(spark) - before == 0


def test_empty_table_reports_zero_rows(spark, tmp_path, monkeypatch):
    """A write whose filter keeps nothing reports 0 rows, not None (the
    reco tables are empty on some snapshots)."""
    build = plans.QUERIES["symbol_universe"]
    monkeypatch.setitem(
        plans.QUERIES, "symbol_universe",
        lambda spark, sf_dir: build(spark, sf_dir).where(F.lit(False)))
    monkeypatch.setattr(pipeline, "E1_TABLES", {"symbol_list": "symbol_universe"})
    monkeypatch.setattr(pipeline, "E2_TABLES", {})
    monkeypatch.setattr(pipeline, "E3_TABLES", {})

    counts = run_daily_batch(spark, SF_SMALL, str(tmp_path))
    assert counts == {"symbol_list": 0}
    assert spark.read.parquet(str(tmp_path / "symbol_list")).count() == 0


def test_registry_contract_integrity():
    """Driver-contract invariants: every oracle belongs to a registered
    query, names are stable identifiers, and the 50-query driver window is
    exactly filled by the priority list (a short _PRIORITY silently wastes
    verdict slots; an over-long one silently drops names)."""
    from ccirecommenderdatapipeline_spark.plans import ORACLES, QUERIES, _PRIORITY

    assert set(ORACLES) <= set(QUERIES)
    assert all(n.isidentifier() for n in QUERIES)
    window = list(QUERIES)[:50]
    in_registry = [n for n in _PRIORITY if n in QUERIES]
    assert window == in_registry[:50]
    assert len(in_registry) == 50, (
        f"_PRIORITY covers {len(in_registry)} of the 50 driver slots"
    )
    # rows-only class retired r11 (VERDICT r10 item 2): the 4 MLlib
    # wrappers now carry statistic-level oracles, so EVERY registered
    # query is oracle-backed and any future oracle=None registration
    # must re-justify itself here
    from ccirecommenderdatapipeline_spark.plans.registry import (
        ROWS_ONLY_REASONS,
    )

    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set()
    assert rows_only == set(ROWS_ONLY_REASONS)
    # the driver window must contain only oracle-bearing names — a
    # rows-only op in the window surfaces as a phantom `err: no_oracle`
    # CORRECTNESS row (seen r06; structurally excluded since r9)
    assert not (set(window) & rows_only), (
        f"rows-only ops in the driver window: {set(window) & rows_only}"
    )
