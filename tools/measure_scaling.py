"""Back-to-back scale-up measurement for SCALING.md rows: runs the given
queries at sf0.1, the 5x replica and the 25x replica IN ONE session
(JVM/worker pools warm, clearCache between queries) and prints one
markdown-ish line per query: each scale's seconds and the tasks its
execution ran (``<tag>=<s>s/<n>t``), so a change in parallelism across
scales shows next to the time. Same methodology as SCALING.md's header.

Usage: python tools/measure_scaling.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_once, warm_up  # noqa: E402
from ccirecommenderdatapipeline_spark import plans  # noqa: E402
from ccirecommenderdatapipeline_spark.session import get_spark  # noqa: E402

SCALES = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("5x", "/tmp/spark_graft_sf0.5"),
    ("25x", "/tmp/spark_graft_sf2.5"),
]


def _require_dirs(scales) -> None:
    """Fail BEFORE starting Spark if a replica dir is missing (/tmp is
    wiped on reboot): a missing 25x path used to surface as an
    AnalysisException after minutes of measurement, discarding every
    timing already taken."""
    missing = [d for _, d in scales if not os.path.isdir(d)]
    if missing:
        raise SystemExit(
            f"missing replica dirs {missing} — rebuild with "
            "tools/replicate_sf.py (see SCALING.md methodology)"
        )

# --perturbed: measure against the token-perturbed replicas built by
# `replicate_sf.py --perturb` (the non-replica fixture for the
# similarity-join family — fresh vocab per replica, so output scales
# linearly instead of quadratically-in-copy-count; VERDICT r8 item 6).
PERTURBED_SCALES = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("5xP", "/tmp/spark_graft_sf0.5p"),
    ("25xP", "/tmp/spark_graft_sf2.5p"),
]


def main() -> int:
    global SCALES
    if "--perturbed" in sys.argv:
        SCALES = PERTURBED_SCALES
    names = [a for a in sys.argv[1:] if a != "--perturbed"]
    unknown = [n for n in names if n not in plans.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 1
    _require_dirs(SCALES)
    spark = get_spark("scaling")
    warm_up(
        spark, SCALES[0][1],
        streaming=any(n.startswith("stream_") for n in names),
    )
    for name in names:
        cells = []
        for tag, sf_dir in SCALES:
            secs, _, tasks = run_once(spark, name, sf_dir)
            cells.append(f"{tag}={secs:.2f}s/{tasks}t")
            spark.catalog.clearCache()
        print(f"SCALING {name}: " + " ".join(cells), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
