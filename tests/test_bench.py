"""bench.py's diff against the previous artifact (no Spark)."""

from __future__ import annotations

import json

import bench

PARSED = {
    "metric": "total_query_sec",
    "value": 0.1,
    "unit": "sec",
    "queries": {"q01": 0.1},
    "sf": 0.1,
}


def _diff(tmp_path, monkeypatch, wrapper_cpus, cpus):
    """Write a driver-wrapper artifact recorded on ``wrapper_cpus``
    cores and diff a 10x slower run on ``cpus`` cores against it."""
    (tmp_path / "BENCH_r99.json").write_text(json.dumps({
        "n": 99, "rc": 0, "cpus": wrapper_cpus, "sf": 0.1, "tail": "",
        "parsed": PARSED,
    }))
    monkeypatch.delenv("SPARK_GRAFT_PREV_BENCH", raising=False)
    path, prev = bench._prev_artifact(str(tmp_path))
    assert prev["cpus"] == wrapper_cpus
    return bench._vs_prev(
        path, prev, {"q01": 1.0}, {"q01": {"p50": 1.0}}, 0.1, {}, cpus
    )


def test_diff_across_core_counts_is_skipped(tmp_path, monkeypatch):
    assert _diff(tmp_path, monkeypatch, 32, 4) == {
        "prev": "BENCH_r99.json",
        "skipped": "prev cpus=32 != 4",
    }


def test_diff_on_same_core_count_still_flags(tmp_path, monkeypatch):
    out = _diff(tmp_path, monkeypatch, 4, 4)
    assert list(out["flagged"]) == ["q01"]
