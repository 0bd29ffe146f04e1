"""Smoke test of the benchmark: every workload, untraced and traced, at
tiny size, through the same command the full benchmark uses.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace),
           "--smoke"]
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True,
                         text=True, timeout=300, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    res = _run(workload, trace)
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert isinstance(got["value"], float), m["name"]
        assert got["unit"] == m["unit"], m["name"]
    if not trace:
        assert all(res["metrics"][n]["value"] > 0 for n in END_TO_END)
    else:
        assert res["metrics"]["parser.accepted"]["value"] > 0
        assert res["metrics"]["exec.jobs"]["value"] > 0


def test_benchmark_json_matches_the_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in SPEC["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in SPEC["per_layer"]] == list(PER_LAYER)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
