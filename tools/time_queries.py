"""Isolated per-query timing for optimization A/Bs.

The bench sweep's per-cell numbers are position-sensitive and multi-modal
on shared hosts (PLANS.md "Load adjudication"), so an optimization claim
is measured in isolation instead: ONE fresh session, bench.py's warm-up
set, then each named query timed ``n_reps`` times back-to-back with the
noop sink; regressions/wins are judged on the MINIMUM. Loadavg bookends
are recorded so a loaded box is visible in the artifact, and so is each
query's ``codegen_compiles`` (classes compiled over its reps), so a
codegen-cache thrash shows in any timing run, and its ``build_jobs`` (per
rep, the Spark jobs its plan build ran before the query executed), so
every eager site left in a plan build shows too, and its ``tasks`` (per
rep, the tasks its execution ran), so a change in task parallelism shows
next to the time. A first rep may add one schema-inference job per table
the session had not read yet, and a query whose eager work is memoized
pays it in its first rep only.

Usage: python tools/time_queries.py <sf_dir> <n_reps> <query> [query ...]
Prints one JSON line: {"timings": {name: {"runs": [...], "min": s,
"codegen_compiles": n, "build_jobs": [...], "tasks": [...]}},
"loadavg": [start, end], "sf_dir": ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_once, warm_up  # noqa: E402
from ccirecommenderdatapipeline_spark import plans  # noqa: E402
from ccirecommenderdatapipeline_spark.session import codegen_compiles, get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    n_reps = int(sys.argv[2])
    names = sys.argv[3:]
    unknown = [n for n in names if n not in plans.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    load0 = round(os.getloadavg()[0], 2)
    spark = get_spark("time-queries")
    warm_up(spark, sf_dir, streaming=any(n.startswith("stream_") for n in names))
    out: dict[str, dict] = {}
    for name in names:
        runs, jobs, tasks = [], [], []
        compiles0 = codegen_compiles(spark)
        for _ in range(n_reps):
            secs, n_jobs, n_tasks = run_once(spark, name, sf_dir)
            runs.append(round(secs, 3))
            jobs.append(n_jobs)
            tasks.append(n_tasks)
            spark.catalog.clearCache()
        out[name] = {"runs": runs, "min": min(runs),
                     "codegen_compiles": codegen_compiles(spark) - compiles0,
                     "build_jobs": jobs, "tasks": tasks}
    payload = {
        "timings": out,
        "loadavg": [load0, round(os.getloadavg()[0], 2)],
        "sf_dir": sf_dir,
    }
    print(json.dumps(payload))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
