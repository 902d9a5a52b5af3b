"""Metric names, units and how each is computed from a run's passes.

Both workloads report every metric (a layer a workload does not exercise
reads 0 there), so one schema covers both; BENCHMARK.json lists the same
names and perfbench/test_perfbench.py pins that they agree.
"""

from __future__ import annotations

import statistics

from .common import PassStats

#: name -> unit, end-to-end (untraced runs). All are CPU seconds of the
#: process tree (see README.md for why not wall seconds).
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "first_ops_cpu_s": "s",
    "incr_ops_cpu_s": "s",
}

_STAGE_SUMS = {
    "sources.scan_bytes": ("inputBytes", 1, "bytes"),
    "sources.scan_files": ("files_read", 1, "count"),
    "plans.executor_cpu_s": ("executorCpuTime", 1e-9, "s"),
    "plans.executor_run_s": ("executorRunTime", 1e-3, "s"),
    "plans.gc_s": ("jvmGcTime", 1e-3, "s"),
    "plans.shuffle_read_bytes": ("shuffleReadBytes", 1, "bytes"),
    "plans.shuffle_write_bytes": ("shuffleWriteBytes", 1, "bytes"),
}
_SINKS = ("write_snapshot", "overwrite_locations_dim", "append_observations")
_SURFACES = ("change_detect", "windowed_agg", "stream_dedup")
#: layers the timed operations call directly; operators and functions run
#: only inside plans' jobs there, so their own time is in the step probes
_SELF_LAYERS = ("plans", "sinks", "streaming")

#: name -> unit, per layer (traced runs).
PER_LAYER = {
    "session.get_spark_s": "s",
    **{k: v[2] for k, v in _STAGE_SUMS.items()},
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.spill_bytes": "bytes",
    **{f"plans.pipeline.{s}_s": "s" for s in ("merge", "diff", "geocode", "dim", "ingest")},
    "operators.relational.changed_rows": "count",
    "operators.enrich.geocode_calls": "count",
    "operators.enrich.weather_calls": "count",
    "operators.enrich.geocode_calls_per_change": "ratio",
    "operators.enrich.weather_calls_per_location": "ratio",
    "operators.enrich.fetch_s": "s",
    "functions.json_flatten.s": "s",
    **{f"sinks.{s}_s": "s" for s in _SINKS},
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "streaming.epochs": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.state_rows_max": "count",
    "streaming.state_mem_bytes_max": "bytes",
    "streaming.state_commit_s": "s",
    **{f"streaming.{s}.s": "s" for s in _SURFACES},
    **{f"{layer}.self_s": "s" for layer in _SELF_LAYERS},
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _m(name: str, value, table: dict) -> tuple[str, dict]:
    return name, {"value": value, "unit": table[name]}


def end_to_end(passes: list[PassStats], setup_cpu_s: float) -> dict:
    values = {
        "setup_s": setup_cpu_s,
        "pass_cpu_s": statistics.median(p.pass_cpu_s for p in passes),
        "first_ops_cpu_s": statistics.median(sum(p.first_op_cpu_s) for p in passes),
        "incr_ops_cpu_s": statistics.median(sum(p.op_cpu_s) for p in passes),
    }
    return dict(_m(k, v, END_TO_END) for k, v in values.items())


def _op_spans(tracer) -> list[int]:
    """Indexes of the spans of the timed operations (scheduled runs, stream
    surfaces) and everything under them; the traced-run step probes are
    excluded."""
    keep = []
    for i in range(len(tracer.spans)):
        root = i
        while tracer.spans[root].parent is not None:
            root = tracer.spans[root].parent
        name = tracer.spans[root].name
        if name == "plans.scheduled_run" or name.startswith("streaming."):
            keep.append(i)
    return keep


def per_layer(traced: PassStats, tracer, get_spark_s: float) -> dict:
    lay = traced.layers
    op_idx = _op_spans(tracer)
    spans = [tracer.spans[i] for i in op_idx]
    total = {}
    for sp in spans:
        for k, v in sp.metrics.items():
            total[k] = total.get(k, 0) + v
    n_ops = max(1, len(traced.op_s) + len(traced.first_op_s))

    def span_sum(name: str, key: str | None = None) -> float:
        hit = [sp for sp in spans if sp.name == name]
        if key is None:
            return sum(sp.seconds for sp in hit)
        return sum(sp.metrics.get(key, 0) for sp in hit)

    build = "plans.run_pipeline" if any(sp.name == "plans.run_pipeline" for sp in spans) else "plans.build"
    geocode_calls = lay.get("geocode_calls", 0)
    weather_calls = lay.get("weather_calls", 0)
    self_s = tracer.self_seconds(op_idx)
    values = {
        "session.get_spark_s": get_spark_s,
        **{k: total.get(src, 0) * scale for k, (src, scale, _) in _STAGE_SUMS.items()},
        "plans.jobs": total.get("jobs", 0) / n_ops,
        "plans.stages": total.get("stages", 0) / n_ops,
        "plans.tasks": total.get("tasks", 0) / n_ops,
        "plans.build_s": span_sum(build),
        "plans.build_jobs": span_sum(build, "jobs"),
        "plans.spill_bytes": total.get("memoryBytesSpilled", 0) + total.get("diskBytesSpilled", 0),
        **{f"plans.pipeline.{s}_s": lay.get(f"plans.pipeline.{s}", 0.0)
           for s in ("merge", "diff", "geocode", "dim", "ingest")},
        "operators.relational.changed_rows": lay.get("changed_rows", 0),
        "operators.enrich.geocode_calls": geocode_calls,
        "operators.enrich.weather_calls": weather_calls,
        "operators.enrich.geocode_calls_per_change":
            geocode_calls / lay["left_only"] if lay.get("left_only") else 0.0,
        "operators.enrich.weather_calls_per_location":
            weather_calls / lay["geocoded"] if lay.get("geocoded") else 0.0,
        "operators.enrich.fetch_s": lay.get("fetch_s", 0.0),
        "functions.json_flatten.s": lay.get("functions.json_flatten", 0.0),
        **{f"sinks.{s}_s": span_sum(f"sinks.{s}") for s in _SINKS},
        "sinks.bytes_written": sum(span_sum(f"sinks.{s}", "outputBytes") for s in _SINKS),
        "sinks.files_written": lay.get("files_written", 0),
        **{k: lay.get(k, 0) for k in PER_LAYER if k.startswith("streaming.")},
        **{f"{layer}.self_s": self_s.get(layer, 0.0) for layer in _SELF_LAYERS},
        "trace.pass_s": traced.pass_s,
        "trace.overhead_s": tracer.overhead_s,
    }
    return dict(_m(k, v, PER_LAYER) for k, v in values.items())
