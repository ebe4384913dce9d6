"""The benchmark's own test: every workload in its smoke size, untraced and
traced, must pass its output checks and emit every metric BENCHMARK.json
names, with its unit; outside a checkout it must fail without a result.

    python3 -m pytest perfbench/test_perfbench.py -q      (about 6 minutes)
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, workload, trace, *extra):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload, trace):
    p = _run(ROOT, workload, trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    *_, report, result = p.stdout.strip().splitlines()
    res = json.loads(result)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, json.loads(report)["failures"]
    assert res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    if trace:
        # each workload leaves out only the other one's layers
        not_run = json.loads(report)["not_run"]
        assert all(n.startswith(("query.", "queries.")) ==
                   (workload == "features") for n in not_run), not_run
        spans = os.path.join(ROOT, ".bench_build", "perfbench",
                             f"spans-{workload}-7.jsonl")
        with open(spans) as f:
            first = json.loads(f.readline())
        assert {"name", "start", "end", "parent", "run_id"} <= set(first)


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "features", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
