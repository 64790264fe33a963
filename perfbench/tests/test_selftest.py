"""Self-test of the benchmark: every workload at a tiny size and seed.

    python3 -m pytest perfbench/tests -q

Checks that the untraced run prints every end-to-end metric of
BENCHMARK.json with its unit and no failed operation, and that the traced
run prints every per-layer metric and writes spans whose per-layer self
times sum to no more than the round wall.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, extra=()) -> tuple[dict, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result, lines = _run(workload, 0)
    _assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    summary = json.loads(lines[-2].split(" ", 1)[1])
    assert summary["fail_frac"] == [0.0, "ratio"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_spans_fit_in_the_round(workload, tmp_path):
    out = tmp_path / "trace.json"
    result, _ = _run(workload, 1, ("--trace-out", str(out)))
    _assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["fail_frac"]["value"] == 0.0
    doc = json.loads(out.read_text())
    spans = doc["spans"]
    assert spans and all(s["end"] >= s["start"] for s in spans)
    rounds = [s for s in spans if s["name"].startswith("round:") and s["parent"] is None]
    assert rounds
    for r in rounds:
        wall = r["end"] - r["start"]
        inner = [s for s in spans if s["round"] == r["round"]]
        kids = {}
        for s in inner:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        self_total = sum(s["end"] - s["start"] - kids.get(s["id"], 0.0) for s in inner)
        assert self_total <= wall + 1e-6
    assert doc["detail"]["self_s"]
