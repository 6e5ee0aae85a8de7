"""Smoke test of the benchmark: every workload, untraced and traced, at the
sf0.001 smoke scale.  Each case starts a fresh Spark driver, so the module
takes a few minutes::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import _metric_value  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

# per-layer metrics that must read non-zero on each workload's traced run
EXERCISED = {
    "relational": ["udf.python_run_s", "udf.to_python_mb", "engine.jobs",
                   "engine.tasks"],
    "iterative": ["plans.build_jobs", "plans.build_task_cpu_s",
                  "streaming.batches", "streaming.state_rows"],
}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )


def test_benchmark_names_its_workloads():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "0",
               "--trace", str(trace), "--scale", "sf0.001")
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, context
    assert result["attempted"] == len(context["passes"]) * len(
        WORKLOADS[workload])
    expected = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        for v in result["metrics"].values():
            assert v["value"] > 0
    else:
        # the layers each workload exercises read non-zero ...
        for name in EXERCISED[workload]:
            assert result["metrics"][name]["value"] > 0, name
        # ... and every traced pass reads the same data volumes, which
        # fails if one pass picks up work of the passes before it
        traced = [p["layers"] for p in context["passes"] if "layers" in p]
        assert len(traced) >= 2
        for name in ("udf.to_python_mb", "plans.build_jobs", "engine.jobs",
                     "streaming.batches"):
            assert len({t[name] for t in traced}) == 1, name
    # no run leaves anything behind in the checkout
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", next(iter(WORKLOADS)),
               "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.parametrize("text,value", [
    ("12 ms", 0.012),
    ("1.5 s", 1.5),
    ("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, ...)", 3.0),
    ("total (min, med, max)\n512.0 KiB (0.0 B, ...)", 0.5),
    ("7", 7.0),
])
def test_sql_metric_values(text, value):
    assert _metric_value(text) == pytest.approx(value)
