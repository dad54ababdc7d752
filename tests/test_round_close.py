"""One-command round-close certification (tools/round_close.py).

Pins the contract VERDICT r14 item 4 asked for: the stages run in
order, the summary is machine-readable, and a planted failure in ANY
stage fails the command — without spawning Spark (stages are swapped
for trivial subprocesses).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_spec = importlib.util.spec_from_file_location(
    "round_close", os.path.join(ROOT, "tools", "round_close.py")
)
rc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(rc)

PY = sys.executable
GOOD = [PY, "-c", "print('fine')"]
BAD = [PY, "-c", "import sys; sys.exit(3)"]


def test_all_green_stages_certify(tmp_path):
    out = rc.run_stages([("a", GOOD), ("b", GOOD)], log_dir=str(tmp_path))
    assert out["ok"] is True
    assert [s["exit"] for s in out["stages"].values()] == [0, 0]
    # each stage teed its output to its own committed-able log
    assert open(os.path.join(str(tmp_path), "a.log")).read() == "fine\n"


def test_planted_failure_fails_the_command(tmp_path, monkeypatch, capsys):
    # a failure in ANY stage → ok False and exit 1, but later stages
    # still run (a close wants the full failure picture)
    monkeypatch.setattr(
        rc, "STAGES", [("a", GOOD), ("boom", BAD), ("z", GOOD)]
    )
    monkeypatch.setattr(rc, "LOG_DIR", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["round_close.py"])
    assert rc.main() == 1
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ok"] is False
    assert summary["stages"]["boom"]["exit"] == 3
    assert summary["stages"]["z"]["exit"] == 0  # ran despite the failure


def test_skip_and_only_select_stages(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(rc, "STAGES", [("a", GOOD), ("boom", BAD)])
    monkeypatch.setattr(rc, "LOG_DIR", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["round_close.py", "--skip", "boom"])
    assert rc.main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(summary["stages"]) == ["a"]
    monkeypatch.setattr(sys, "argv", ["round_close.py", "--only", "boom"])
    assert rc.main() == 1


def test_unknown_stage_name_is_an_error(monkeypatch):
    monkeypatch.setattr(sys, "argv", ["round_close.py", "--skip", "nope"])
    assert rc.main() == 2


def test_real_stage_registry_names_real_tools():
    # the committed STAGES must point at files that exist, with the
    # slowest sweep last, chunked (fresh JVM per slice)
    names = [n for n, _ in rc.STAGES]
    assert names[-1] == "oracle_sf0.1"
    assert {"oracle_sf0.001", "oracle_sf0.01", "oracle_sf0.1"} <= set(names)
    for _, argv in rc.STAGES:
        script = argv[1] if argv[1] != "-m" else None
        if script and script.endswith(".py"):
            assert os.path.exists(os.path.join(ROOT, script)), script
    assert "--chunk" in dict(rc.STAGES)["oracle_sf0.1"]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
