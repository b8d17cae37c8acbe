"""Smoke test of the benchmark command at a tiny corpus size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload untraced and traced (a few minutes in all) and
checks the output contract: every metric BENCHMARK.json names is
emitted with its unit, outputs pass their checks, and the traced run
writes a span record whose top-level spans cover every operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
SET_UP_OPS = ("op.build", "op.warmup.")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--pages", "200"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(workload, trace):
    detail, result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        return
    path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed7.jsonl")
    with open(path) as fh:
        spans = [json.loads(line) for line in fh]
    ops = [s for s in spans if s["parent"] is None and s["name"].startswith("op.")]
    measured = [s for s in ops if not s["name"].startswith(SET_UP_OPS)]
    assert len(measured) == result["attempted"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["wall_s"] >= 0 and s["self_s"] <= s["wall_s"] + 1e-9
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    assert "traced_end_to_end" in detail


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(HERE, "layer_map.json")) as fh:
        layer_map = json.load(fh)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    workloads = {w["name"] for w in SPEC["workloads"]}
    assert set(layer_map) == {m["name"] for m in SPEC["per_layer"]}
    for entry in layer_map.values():
        assert entry["moves"]
        for pair in entry["moves"] + entry["flat_on"]:
            metric, workload = pair.split("@")
            assert metric in e2e and workload in workloads
