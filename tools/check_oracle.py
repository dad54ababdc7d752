"""Local stand-in for the driver's t2 gate: run every registered Spark query
and its DuckDB oracle side by side, compare row count, schema (column-name
set) and an order-insensitive value multiset.

Usage: python tools/check_oracle.py [sf_dir] [--chunk N] [--dump] [query ...]

At sf0.001 and sf0.01 the whole registry passes in one session. At
sf0.1 a single 300+-query session died mid-run from accumulated JVM
state (observed twice in r9 around query ~75 and ~280 despite per-query
clearCache — codegen/class caches live in the JVM, so an in-process
SparkSession restart does not shed them), and no one-session sf0.1 sweep
has yet reached the end.
``--chunk N`` makes the sweep one reproducible command: the parent
re-invokes this script as a SUBPROCESS per N-query slice, so every chunk
gets a fresh JVM; output streams through and the exit code is the OR of
the chunks. ``--chunk 60`` is how the sf0.1 sweep runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ccirecommenderdatapipeline_spark import plans
from ccirecommenderdatapipeline_spark.schemas import TESTDATA_TABLES
from ccirecommenderdatapipeline_spark.session import get_spark


def normalize(v):
    import datetime
    import math
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — mismatches surface FP drift
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(normalize(r[i]) for i in order) for r in rows)


def duck_connect(sf_dir: str):
    """One DuckDB connection with the testdata tables registered as views
    — the single definition shared by the gate and the dump adjudicator
    so a table/schema change cannot diverge them."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_chunked(sf_dir: str, names: list[str], chunk: int) -> int:
    """Sweep ``names`` in fresh-JVM slices of ``chunk`` queries each."""
    rc = 0
    for i in range(0, len(names), chunk):
        part = names[i : i + chunk]
        print(
            f"--- chunk {i // chunk + 1}/{(len(names) + chunk - 1) // chunk}"
            f" ({len(part)} queries) ---",
            flush=True,
        )
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, *part]
        )
        rc |= r.returncode
    return rc


def dump_rows(sf_dir: str, names: list[str]) -> int:
    """Adjudication mode (``--dump``): print every result row from BOTH
    engines with full repr and Python type per column, sorted — the
    one-command evidence artifact when an external hash verdict disagrees
    with the local multiset gate (the r9 decimal-readout episode), so the
    divergence can be attributed to values vs fetch-path normalization."""
    spark = get_spark("check-oracle-dump")
    con = duck_connect(sf_dir)
    # None-safe sort: raw tuple sort raises TypeError the moment a column
    # mixes NULL and non-NULL (stream_ks_drift's NULL ks, left-join
    # outputs) — exactly the rows this tool exists to dump (ADVICE r10
    # item 2). Applied identically to both engines so the sorted-list
    # equality below still means multiset equality.
    none_safe = lambda t: tuple((v is None, repr(v)) for v in t)  # noqa: E731
    mismatched = 0
    for name in names:
        sdf = plans.QUERIES[name](spark, sf_dir)
        scols = sdf.columns
        srows = sorted(
            (tuple(r) for r in sdf.select(*sorted(scols)).collect()),
            key=none_safe,
        )
        print(f"=== {name} [spark] cols={sorted(scols)}")
        for r in srows:
            print("  " + " | ".join(f"{type(v).__name__}:{v!r}" for v in r))
        if name not in plans.ORACLES:
            print(f"=== {name} [oracle] (rows-only query, no oracle)")
            continue
        rel = con.execute(plans.ORACLES[name])
        dcols = [d[0] for d in rel.description]
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        drows = sorted(
            (tuple(r[i] for i in order) for r in rel.fetchall()),
            key=none_safe,
        )
        print(f"=== {name} [oracle] cols={sorted(dcols)}")
        for r in drows:
            print("  " + " | ".join(f"{type(v).__name__}:{v!r}" for v in r))
        equal = srows == drows
        mismatched += 0 if equal else 1
        print(f"=== {name} rows equal: {equal}")
    spark.stop()
    # exit code mirrors the main gate so scripted callers can trust it —
    # a dumped mismatch was previously only visible by eyeballing stdout
    return 1 if mismatched else 0


def main() -> int:
    argv = sys.argv[1:]
    chunk = 0
    dump = "--dump" in argv
    argv = [a for a in argv if a != "--dump"]
    if "--chunk" in argv:
        i = argv.index("--chunk")
        try:
            chunk = int(argv[i + 1])
        except (IndexError, ValueError):
            raise SystemExit("--chunk needs an integer slice size, e.g. --chunk 70")
        argv = argv[:i] + argv[i + 2 :]
    if dump and chunk:
        # --dump used to silently discard --chunk and run every name in
        # ONE JVM — reintroducing the mid-run JVM-death mode chunking
        # exists to prevent. Refuse loudly instead.
        raise SystemExit(
            "--dump is a small-adjudication mode and ignores --chunk; "
            "dump a handful of names per invocation instead"
        )
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:] or list(plans.QUERIES)
    if dump:
        return dump_rows(sf_dir, names)
    if chunk:
        return run_chunked(sf_dir, names, chunk)
    spark = get_spark("check-oracle")
    con = duck_connect(sf_dir)
    failures = 0
    for name in names:
        fn = plans.QUERIES[name]
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        # drop persisted intermediates as soon as the Spark side is
        # collected so a full-registry sweep doesn't accumulate cached
        # partitions (ADVICE r4) — placed BEFORE the rows-only continue,
        # which used to skip the hygiene entirely
        spark.catalog.clearCache()
        if name not in plans.ORACLES:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            continue
        rel = con.execute(plans.ORACLES[name])
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"[FAIL] {name}: column mismatch\n  spark={sorted(scols)}\n  duck ={sorted(dcols)}")
            ok = False
        if len(srows) != len(drows):
            print(f"[FAIL] {name}: row count spark={len(srows)} duck={len(drows)}")
            ok = False
        if ok:
            sm, dm = df_multiset(scols, srows), df_multiset(dcols, drows)
            if sm != dm:
                only_s = list((sm - dm).items())[:3]
                only_d = list((dm - sm).items())[:3]
                print(f"[FAIL] {name}: value mismatch ({sum((sm-dm).values())} spark-only rows)")
                for r in only_s:
                    print(f"   spark-only: {r}")
                for r in only_d:
                    print(f"   duck-only : {r}")
                ok = False
        if ok:
            print(f"[ok] {name}: {len(srows)} rows")
        else:
            failures += 1
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
