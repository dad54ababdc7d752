"""One-command round-close certification.

Runs the certification sequence — check_oracle at three SFs,
audit_plans in three modes, the plan-drift diff and the full pytest
suite — as one command that:

  - runs the stages IN ORDER (cheap gates first, so a broken tree
    fails in seconds, not after a 30-minute sf0.1 sweep);
  - tees each stage's output to its own log file;
  - prints ONE machine-readable JSON summary line (per-stage exit code,
    wall seconds, log path);
  - exits non-zero when ANY stage fails (a planted failure in any
    stage fails the command — pinned by tests/test_round_close.py).

Usage: python tools/round_close.py [--list] [--skip <stage>]...
                                   [--only <stage>...]
Stage names: pytest audit audit_sf0.1 audit_streaming plan_drift
oracle_sf0.001 oracle_sf0.01 oracle_sf0.1.

The sf0.001 and sf0.01 oracle sweeps run the whole registry in one
session (326/326 each). sf0.1 keeps --chunk (fresh JVM per slice): the
only full pass recorded there was chunked, and one session at sf0.1 has
not been run to the end. Timings are not part of a close: perfbench/
compares a change with its parent on one host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG_DIR = os.environ.get("ROUND_CLOSE_LOGS", "/tmp/round_close")
PY = sys.executable

# (name, argv) in execution order — module-level so tests can plant a
# failing stage without spawning Spark
STAGES: list[tuple[str, list[str]]] = [
    ("pytest", [PY, "-m", "pytest", "tests/", "-q"]),
    ("audit", [PY, "tools/audit_plans.py", "/root/testdata/sf0.01"]),
    ("audit_sf0.1", [PY, "tools/audit_plans.py", "/root/testdata/sf0.1"]),
    ("audit_streaming",
     [PY, "tools/audit_plans.py", "/root/testdata/sf0.01",
      "--run-streaming"]),
    ("plan_drift",
     [PY, "tools/audit_plans.py", "--diff", "/root/testdata/sf0.01",
      "--run-streaming"]),
    ("oracle_sf0.001", [PY, "tools/check_oracle.py", "/root/testdata/sf0.001"]),
    ("oracle_sf0.01", [PY, "tools/check_oracle.py", "/root/testdata/sf0.01"]),
    ("oracle_sf0.1",
     [PY, "tools/check_oracle.py", "/root/testdata/sf0.1",
      "--chunk", "60"]),
]


def run_stages(
    stages: list[tuple[str, list[str]]], log_dir: str = LOG_DIR
) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    summary: dict = {
        "stages": {},
        "loadavg_start": round(os.getloadavg()[0], 2),
    }
    ok = True
    for name, argv in stages:
        log = os.path.join(log_dir, f"{name}.log")
        print(f"[round_close] {name}: {' '.join(argv)}", file=sys.stderr)
        t0 = time.monotonic()
        with open(log, "w") as f:
            rc = subprocess.run(
                argv, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT
            ).returncode
        secs = round(time.monotonic() - t0, 1)
        summary["stages"][name] = {"exit": rc, "secs": secs, "log": log}
        print(
            f"[round_close] {name}: exit {rc} in {secs}s", file=sys.stderr
        )
        if rc != 0:
            ok = False
            # keep going: a close wants the FULL failure picture, not
            # the first stage that tripped
    summary["ok"] = ok
    return summary


def main() -> int:
    argv = sys.argv[1:]
    if "--list" in argv:
        for name, cmd in STAGES:
            print(f"{name}: {' '.join(cmd)}")
        return 0
    skip: set[str] = set()
    while "--skip" in argv:
        i = argv.index("--skip")
        skip.add(argv[i + 1])
        del argv[i : i + 2]
    if "--only" in argv:
        only = set(argv[argv.index("--only") + 1 :])
        stages = [(n, c) for n, c in STAGES if n in only]
    else:
        stages = [(n, c) for n, c in STAGES if n not in skip]
    unknown = (skip | (only if "--only" in sys.argv else set())) - {
        n for n, _ in STAGES
    }
    if unknown:
        print(f"unknown stage(s): {sorted(unknown)}", file=sys.stderr)
        return 2
    summary = run_stages(stages)
    print(json.dumps(summary, sort_keys=True))
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
