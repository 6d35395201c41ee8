"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider

The end-to-end cases start Spark once per workload and trace mode on a
2,000-file corpus (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import run  # noqa: E402
import tracing  # noqa: E402
from tests.oracles import kosaraju_scc  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_flipped_scc_label_is_counted_as_failed():
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)]
    want = kosaraju_scc(edges, list(range(6)))
    checks = run.Checks()
    checks.labels("scc", dict(want), want)
    assert (checks.attempted, checks.failed, checks.failed_frac) == (1, 0, 0.0)
    corrupted = dict(want)
    corrupted[4] = 0
    checks.labels("scc", corrupted, want)
    assert (checks.attempted, checks.failed, checks.failed_frac) == (2, 1, 0.5)
    assert checks.notes[0].startswith("scc: 1 wrong labels")


def test_self_times_subtract_children_and_jobs():
    spans = [
        {"layer": "operators.scc", "start": 0.0, "end": 10.0, "depth": 0},
        {"layer": "plans.superstep", "start": 1.0, "end": 4.0, "depth": 1},
        {"layer": "plans.superstep", "start": 5.0, "end": 6.0, "depth": 1},
    ]
    jobs = [(2.0, 3.0), (2.5, 3.5), (7.0, 8.0)]
    got = tracing.self_times(spans, jobs)
    assert got["operators.scc"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got["plans.superstep"] == pytest.approx(3.0 - 1.5 + 1.0)
    assert got["spark"] == pytest.approx(2.5)


def test_fails_without_the_engine_sources():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _bench("--workload", "iter_ckpt", "--seed", "1", "--seconds", "1", "--trace", "0",
                      cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _bench("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--files", "2000")
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values())
