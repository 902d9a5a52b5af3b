"""The benchmark's own test, at tiny scale (20 locations; 400 events and 60
documents). Run from the repository root:

    python -m pytest perfbench/test_perfbench.py

It pins the metric-name schema against BENCHMARK.json and checks that a
traced run emits every per-layer metric, with the layers its workload
exercises actually measured, and that the exact counts repeat.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: per-layer metrics that must be non-zero in a traced run of each workload
EXERCISED = {
    "pipeline_large": (
        "session.get_spark_s", "sources.scan_bytes", "sources.scan_files",
        "plans.jobs", "plans.stages", "plans.tasks", "plans.build_s", "plans.build_jobs",
        "plans.executor_cpu_s", "plans.executor_run_s", "plans.shuffle_read_bytes",
        "plans.shuffle_write_bytes", "plans.pipeline.merge_s", "plans.pipeline.diff_s",
        "plans.pipeline.geocode_s", "plans.pipeline.dim_s", "plans.pipeline.ingest_s",
        "operators.relational.changed_rows", "operators.enrich.geocode_calls",
        "operators.enrich.weather_calls", "operators.enrich.geocode_calls_per_change",
        "operators.enrich.weather_calls_per_location", "operators.enrich.fetch_s",
        "functions.json_flatten.s", "sinks.write_snapshot_s",
        "sinks.overwrite_locations_dim_s", "sinks.append_observations_s",
        "sinks.bytes_written", "sinks.files_written", "plans.self_s", "sinks.self_s",
        "trace.pass_s", "trace.overhead_s",
    ),
    "stream_epochs": (
        "session.get_spark_s", "sources.scan_bytes", "sources.scan_files", "plans.jobs",
        "plans.stages", "plans.tasks", "plans.build_s", "plans.executor_cpu_s",
        "plans.executor_run_s", "streaming.epochs", "streaming.add_batch_s",
        "streaming.commit_s", "streaming.planning_s", "streaming.state_rows_max",
        "streaming.state_mem_bytes_max", "streaming.change_detect.s",
        "streaming.windowed_agg.s", "streaming.stream_dedup.s",
        "streaming.self_s", "trace.pass_s", "trace.overhead_s",
    ),
}
#: counts that must repeat exactly across two traced runs of the same seed
EXACT = (
    "plans.jobs", "plans.tasks", "operators.relational.changed_rows",
    "operators.enrich.geocode_calls", "operators.enrich.weather_calls",
)


def _bench(workload: str, trace: int, seed: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, out.stderr[-4000:]
    return result["metrics"]


def test_schema_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert set(EXERCISED) == set(WORKLOADS)
    for names in EXERCISED.values():
        assert set(names) <= set(PER_LAYER)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    metrics = _bench(workload, trace=0)
    assert {k: v["unit"] for k, v in metrics.items()} == END_TO_END
    assert all(v["value"] > 0 for v in metrics.values()), metrics


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_per_layer_metric(workload):
    metrics = _bench(workload, trace=1)
    assert {k: v["unit"] for k, v in metrics.items()} == PER_LAYER
    idle = [k for k in EXERCISED[workload] if not metrics[k]["value"] > 0]
    assert not idle, idle
    if workload == "pipeline_large":
        again = _bench(workload, trace=1)
        assert {k: again[k]["value"] for k in EXACT} == {k: metrics[k]["value"] for k in EXACT}
