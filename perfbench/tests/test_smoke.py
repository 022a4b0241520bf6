"""Smoke pass of each workload through the benchmark command.

Each run is the real command at its own (small) size: the build
workload builds a ~100-conversation corpus through stages A-D, the
queries workload runs its query set over sf0.001-sized tables. Tracing
is on so the per-layer path is exercised too. A run takes about a
minute, dominated by the JVM start and the pipeline's fixed per-job
cost.
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench.layers import METRICS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["build", "queries"])
def test_workload_traced_run_reports_every_layer(workload):
    line = _run(workload, 1)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert sorted(line["metrics"]) == sorted(name for name, _ in METRICS)
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert m["trace.accounted_frac"] == pytest.approx(1.0, abs=0.05)
    assert m["spark.jobs"] > 0
    if workload == "build":
        stages = sum(m[f"pipeline.stage_{s}.s"] for s in "abcd")
        assert stages + m["pipeline.residual_s"] == pytest.approx(m["trace.wall_s"], rel=0.05)
        assert m["catalog.commits"] > 0 and m["checkpoint.jobs"] > 0
    else:
        assert m["operators.label_propagation.jobs"] > 0
        families = sum(m[f"queries.{f}.s"] for f in
                       ("dedup", "sim", "graph", "kg", "text", "sources", "relational"))
        assert families == pytest.approx(m["trace.wall_s"], rel=0.05)


def test_result_line_without_the_package_is_an_error(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=180)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
