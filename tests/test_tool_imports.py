"""Every command-line entry point (bench.py and each tools/*.py) imports
cleanly without starting a SparkSession, so a tool that still imports a
deleted or renamed module fails here in seconds instead of when someone
first runs it. No Spark needed."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def test_entry_points_import_without_a_session():
    from pyspark import SparkContext

    had_context = SparkContext._active_spark_context is not None
    paths = [os.path.join(ROOT, "bench.py")] + sorted(
        glob.glob(os.path.join(ROOT, "tools", "*.py"))
    )
    failures = {}
    for path in paths:
        name = os.path.splitext(os.path.basename(path))[0]
        spec = importlib.util.spec_from_file_location(
            f"_entry_point_{name}", path
        )
        try:
            spec.loader.exec_module(importlib.util.module_from_spec(spec))
        except Exception as exc:  # noqa: BLE001 - report every tool at once
            failures[os.path.relpath(path, ROOT)] = repr(exc)
    assert not failures, failures
    assert len(paths) > 1
    if not had_context:
        assert SparkContext._active_spark_context is None, (
            "importing an entry point started a SparkContext"
        )


def test_headline_names_are_registered_and_unique():
    # bench.py indexes the registry with each HEADLINE name, so a typo or
    # a removed query fails here instead of mid-sweep
    import bench
    from ccirecommenderdatapipeline_spark import plans

    assert [n for n in bench.HEADLINE if n not in plans.QUERIES] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
