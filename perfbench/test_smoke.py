"""Tiny-input smoke test of the benchmark's own code.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload traced at smoke-test sizes (2k trips; 4 landed files; a
300-document corpus for the curation probe), and one untraced. A traced run
also times untraced passes before and after its traced ones, for its
overhead figure.
Both result shapes are checked: every declared metric is present with its
unit, the outputs are correct, and the run exits 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_traced_run_reports_every_per_layer_metric(workload):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0.1", "--trace", "1", "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert context["seed"] == 7 and context["calib_cpu_sec"] > 0
    assert result["metrics"]["spark.jobs"]["value"] > 0
    if workload == "stream_ingest":
        assert result["metrics"]["stream.batches"]["value"] == 4
        assert result["metrics"]["curation.kept_docs"]["value"] > 0
        assert result["metrics"]["query.d5_minhash_lsh.jobs"]["value"] > 0
    else:
        assert result["metrics"]["checks.passed"]["value"] == 25


def test_untraced_run_reports_every_end_to_end_metric():
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream_ingest", "--seed", "3",
           "--seconds", "0.1", "--trace", "0", "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    assert result["correct"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in _spec()["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert context["samples"]["setup_s"] == 2
