"""A tiny traced run of each workload, end to end.

Runs ``run.py --trace 1`` at sf0.001 with a 1-second window: the first
pass, the warm passes, then untagged, tagged and untagged steady passes,
each checked after it. Takes about a minute and a half per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from layers import PER_LAYER, SPAN_METRICS  # noqa: E402
from run import END_TO_END  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)


def _run(workload: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_benchmark_json_names_the_reported_metrics():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_layer(workload):
    detail, result = _run(workload)
    assert result["correct"] and result["failed"] == 0, detail["failed_ops"]
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == PER_LAYER
    assert metrics["trace.unattributed_jobs"]["value"] == 0
    layers = detail["layers"]
    # jobs are attributed through the span property; only streaming
    # micro-batches inside tagged spans go by time
    assert layers["trace.jobs_by_property"] > 0
    queries = WORKLOADS[workload].queries
    if queries:
        assert layers["trace.jobs_by_time_tagged"] == 0
    # the pass's top-level spans cover it: self times sum to the pass time
    assert metrics["trace.coverage"]["value"] > 0.97
    assert metrics["trace.overhead"]["value"] > 0
    assert metrics["spark.jobs"]["value"] > 0
    assert set(detail["end_to_end"]) == set(END_TO_END)
    if queries:
        for q in queries:
            assert layers[f"query.{q}.build_s"] > 0
            assert layers[f"query.{q}.exec_s"] > 0
    else:
        assert all(layers[m] > 0 for m in SPAN_METRICS.values())
        assert metrics["sources.crawl_pages"]["value"] > 1
        assert metrics["streaming.batches"]["value"] >= 1
    with open(os.path.join(ROOT, detail["spans_file"]), encoding="utf-8") as fh:
        spans = [json.loads(line) for line in fh]
    # every pass, warm and steady ones included, is checked after it
    passes = [s for s in spans if s["name"] == "pass"]
    assert [s["kind"] for s in passes] == (
        ["first"] + ["warm"] * WORKLOADS[workload].warm_passes + ["steady"] * 3
    )
    assert sum(s["name"] == "check" for s in spans) == len(passes)
