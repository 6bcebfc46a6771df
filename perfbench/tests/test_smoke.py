"""Smoke test: each workload (svc_tpch too, which BENCHMARK.json does not
list) briefly at sf0.001, untraced and traced.

Checks that every end-to-end metric BENCHMARK.json names is printed with
its unit (and the ungated ones in the report line), that every answer
check passes, and that a traced run reports every per-layer metric and
passes the span checks. Takes a few minutes (one Spark start per run).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(autouse=True)
def tiny_scale(monkeypatch):
    monkeypatch.setattr(run, "SF", 0.001)


def _check(result: dict, wanted: list[dict]) -> None:
    assert result["correct"], result
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_end_to_end_metrics(workload):
    report, result = run.run_workload(workload, seed=7, seconds=1, trace=False)
    _check(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    assert report["error_rate"] == 0
    assert report["environment"]["nproc"] >= 1
    # the ungated end-to-end metrics are in the report line
    for name in ("read_p50_ms", "wall_s", "throughput_ops"):
        assert report["metrics"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_traced_per_layer_metrics(workload):
    report, result = run.run_workload(workload, seed=7, seconds=1, trace=True)
    _check(result, SPEC["per_layer"])
    trace = report["trace"]
    assert trace["requests"] >= 1
    # spans nest inside their parent and the request body, siblings do not
    # overlap, and the part of took no span covers is within [0, took]
    assert trace["span_violations"] == 0
    assert trace["uncovered_out_of_range"] == 0
    # the wrapped entry points account for most of a request's took
    assert trace["uncovered_share_p50"] < 0.25
    layer = {k: v["value"] for k, v in result["metrics"].items()}
    assert layer["exec.jobs"] > 0
    if workload == "plans_bench":
        assert layer["plans.build_ms"] > 0 and layer["frontend.ms"] == 0
    else:
        assert layer["frontend.ms"] > 0 and layer["http.response_bytes"] > 0
    if workload == "svc_interactive" and report["writes"]:
        assert layer["dml.ms"] > 0 and layer["catalog.bytes_written"] > 0
