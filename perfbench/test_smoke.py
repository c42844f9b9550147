"""Smoke test for the benchmark itself, at a tiny corpus size.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repository root)

Checks that BENCHMARK.json and the metric catalogue agree, that a seed
fixes the op stream, and that a tiny run of every workload prints every
declared metric with its unit and passes its own output checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from modernsearchengines_spark.sources.docs import generate_docs
from perfbench import inputs, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_catalogue():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == {"serve", "refresh"}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_same_seed_same_op_stream():
    rows = generate_docs(60, 3)
    vocab = inputs.vocabulary(rows)
    assert vocab == inputs.vocabulary(generate_docs(60, 3))
    assert inputs.serve_stream(3, vocab) == inputs.serve_stream(3, vocab)
    assert inputs.serve_stream(3, vocab) != inputs.serve_stream(4, vocab)
    urls = sorted(r["url"] for r in rows)
    a = inputs.refresh_round(3, 1, vocab, urls, 10)
    b = inputs.refresh_round(3, 1, vocab, urls, 10)
    assert [r["url"] for r in a[0]] == [r["url"] for r in b[0]]
    assert a[1] == b[1]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["serve", "refresh"])
def test_tiny_run_prints_every_metric(workload, trace):
    env = dict(os.environ, PERFBENCH_DOCS="120")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout
    key = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    for name, unit in declared.items():
        assert any(
            line.split()[1:2] == [name] and line.endswith(f" {unit}")
            for line in out.stdout.splitlines() if line.startswith("metric ")
        ), name
