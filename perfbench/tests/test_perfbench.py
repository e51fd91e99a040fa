"""The benchmark's own tests. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

Each test starts its own Spark session on tiny inputs, so the module
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _cli(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable,
            "perfbench/run.py",
            "--workload", workload,
            "--seed", "3",
            "--seconds", "1",
            "--trace", str(trace),
            "--size", "tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    summary = json.loads(lines[-2])
    assert {"nproc", "loadavg_start", "loadavg_end"} <= set(summary)
    return json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_tiny_run_emits_every_metric_with_unit(workload, trace, kind):
    out = _cli(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if kind == "end_to_end":
        assert all(m["value"] > 0 for m in out["metrics"].values())
    assert out["correct"]
    if workload == "dashboard":
        assert out["failed"] == 0


def _run_in_process(workload: str) -> dict:
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        return harness.run_workload(workload, 3, 1, False, "tiny")["result"]
    finally:
        os.chdir(cwd)


def test_dashboard_counts_a_wrong_answer(monkeypatch):
    from timeseries_data_provider_spark.serving import grafana

    real = grafana.handle_query
    calls = []

    def drop_last_point(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append(1)
        if len(calls) == 30:  # a measured request, after the warm-ups
            item = out[0]
            (item.get("datapoints") or item.get("rows")).pop()
        return out

    monkeypatch.setattr(grafana, "handle_query", drop_last_point)
    out = _run_in_process("dashboard")
    assert out["failed"] == 1
    assert out["correct"] is False


def test_loop_counts_a_wrong_tick(monkeypatch):
    from timeseries_data_provider_spark.streaming import ingest

    real = ingest.MetricsCollector.tick
    calls = []

    def one_extra(self, *args, **kwargs):
        calls.append(1)
        n = real(self, *args, **kwargs)
        return n + 1 if len(calls) == 5 else n

    monkeypatch.setattr(ingest.MetricsCollector, "tick", one_extra)
    out = _run_in_process("loop")
    base = _run_in_process("loop")
    assert out["failed"] == base["failed"] + 1
    assert out["correct"] is False and base["correct"] is True


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
