"""The paper's scheduled pipeline as a benchmark workload.

One pass is a sequence of scheduled runs from an empty state: a first run
with no snapshot (every location geocoded), then incremental runs that
each carry ~1% drift. A run is what the reference's Task Scheduler job
does: ``run_pipeline`` and then the three sinks (snapshot, truncate-load
Locations, append WeatherData). The snapshot is double-buffered between
two paths, because a run reads the previous snapshot while writing the
new one.

Only the scheduled runs are timed. Input frames are built before, and the
output checks run after, each run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

from real_time_weather_data_pipeline_for_philippine_cities_spark.functions.json_flatten import (
    flatten_weather,
    parse_weather_json,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.pipeline import (
    COMPARE_COLUMNS,
    build_locations_dim,
    detect_changes,
    geocode_locations,
    ingest_weather,
    merge_cities_provinces,
    run_pipeline,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sinks.tables import (
    append_observations,
    overwrite_locations_dim,
    write_snapshot,
)

from . import gen
from .common import PassStats, add, count_files, fingerprint_of, noop
from .tracing import tree_cpu_s


class PipelineWorkload:
    """``n_locations`` PSGC rows, ``runs`` scheduled runs per pass."""

    def __init__(self, spark, seed: int, n_locations: int, runs: int, drift: float, work: str):
        self.spark = spark
        self.seed = seed
        self.n = n_locations
        self.runs = runs
        self.drift = drift
        self.work = work
        sc = spark.sparkContext
        self.geo_calls = sc.accumulator(0)
        self.wx_calls = sc.accumulator(0)
        self.fetch_s = sc.accumulator(0.0)
        self.geocoder, self.weather = gen.make_fetchers(
            self.geo_calls, self.wx_calls, self.fetch_s
        )
        # Step probes fetch through their own counters, so a traced run's
        # call counts cover the scheduled runs only.
        self.probe_geocoder, self.probe_weather = gen.make_fetchers(
            sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0)
        )

    # -- one pass ---------------------------------------------------------------
    def run_pass(self, tracer, salt: int) -> PassStats:
        spark = self.spark
        base = os.path.join(self.work, f"pass{salt}")
        shutil.rmtree(base, ignore_errors=True)
        snaps = [os.path.join(base, "snapshot_a"), os.path.join(base, "snapshot_b")]
        dim_path = os.path.join(base, "locations")
        obs_path = os.path.join(base, "weather_data")

        generator = gen.LocationGen(self.seed, self.n, salt)
        locs = [generator.first()]
        for _ in range(1, self.runs):
            locs.append(generator.drift(locs[-1], self.drift))
        provinces = spark.createDataFrame(locs[0].provinces, gen.PROVINCE_SCHEMA)

        stats = PassStats()
        lay = stats.layers
        expected_obs = [0, 0]
        prev_snap = None
        for r, loc in enumerate(locs):
            run_id = f"pass{salt}-run{r}"
            exp = gen.expect_run(loc, locs[r - 1] if r else None)
            cities = spark.createDataFrame(list(loc.cities.values()), gen.CITY_SCHEMA)
            if tracer.enabled:
                self._probe_steps(tracer, run_id, cities, provinces, prev_snap, lay)
            stats.attempted += 1
            g0, w0, f0 = self.geo_calls.value, self.wx_calls.value, self.fetch_s.value
            new_snap = snaps[r % 2]
            obs_files = count_files(obs_path)
            cpu0 = tree_cpu_s(os.getpid())
            try:
                with tracer.span("plans.scheduled_run", "plans", run_id) as op:
                    old = spark.read.parquet(prev_snap) if prev_snap else None
                    with tracer.span("plans.run_pipeline", "plans", run_id):
                        res = run_pipeline(
                            spark, cities, provinces, old, self.geocoder, self.weather
                        )
                    with tracer.span("sinks.write_snapshot", "sinks", run_id):
                        write_snapshot(res.new_snapshot, new_snap)
                    with tracer.span("sinks.overwrite_locations_dim", "sinks", run_id):
                        overwrite_locations_dim(res.locations_dim, dim_path)
                    with tracer.span("sinks.append_observations", "sinks", run_id):
                        append_observations(res.observations, obs_path)
            except Exception as exc:  # a failed run is counted, not fatal
                print(f"[perfbench] {run_id} raised: {exc!r}", file=sys.stderr)
                stats.failed += 1
                break
            stats.record(r == 0, op.seconds, tree_cpu_s(os.getpid()) - cpu0)
            stats.rows += len(loc.cities)
            add(lay, "geocode_calls", self.geo_calls.value - g0)
            add(lay, "weather_calls", self.wx_calls.value - w0)
            add(lay, "fetch_s", self.fetch_s.value - f0)
            add(lay, "left_only", exp.left_only)
            add(lay, "geocoded", exp.geocoded)
            add(
                lay, "files_written",
                count_files(new_snap) + count_files(dim_path) + count_files(obs_path) - obs_files,
            )

            t_check = time.perf_counter()
            last = r == len(locs) - 1
            problems = self._check_run(res, exp, new_snap, dim_path, last)
            expected_obs[0] += exp.obs_rows
            expected_obs[1] += exp.obs_fp
            if last:
                problems += self._check_observations(obs_path, expected_obs)
            stats.checks_s += time.perf_counter() - t_check
            if problems:
                print(f"[perfbench] {run_id} wrong: {'; '.join(problems)}", file=sys.stderr)
                stats.failed += 1
            prev_snap = new_snap
        return stats

    # -- checks (outside the timed region) ------------------------------------
    def _check_run(self, res, exp: gen.RunExpectation, snap_path: str, dim_path: str,
                   last: bool) -> list[str]:
        spark = self.spark
        problems = []
        lat = F.round(F.col("latitude") * 1e5).cast("long")
        lon = F.round(F.col("longitude") * 1e5).cast("long")
        snap = spark.read.parquet(snap_path)
        got = fingerprint_of(snap, ["code_city", "name", "province_name", lat, lon])
        if got != (exp.snapshot_rows, exp.snapshot_fp):
            problems.append(f"snapshot {got} != {(exp.snapshot_rows, exp.snapshot_fp)}")
        if last:  # earlier dims are overwritten; the facts check covers their ids
            dim = spark.read.parquet(dim_path)
            got = fingerprint_of(dim, ["location_id", "location_name", "province_name", lat, lon])
            if got != (exp.dim_rows, exp.dim_fp):
                problems.append(f"dim {got} != {(exp.dim_rows, exp.dim_fp)}")
        got = fingerprint_of(res.changes, ["diff_side", *COMPARE_COLUMNS])
        want = (exp.left_only + exp.right_only, exp.diff_fp)
        if got != want:
            problems.append(f"diff {got} != {want}")
        return problems

    def _check_observations(self, obs_path: str, expected: list[int]) -> list[str]:
        """All facts appended over the pass, against the model. Each
        fingerprint carries (location_id, name, province), and the model
        takes those ids from the dim the same run wrote (itself checked by
        its fingerprint), so a match also proves FK closure."""
        cols = [
            "location_id", "location_name", "province_name", "weather_main",
            F.round(F.col("temperature_c") * 100).cast("long"), "pressure_hpa",
            "humidity_percent", "wind_direction_deg", "cloudiness_percent", "visibility_m",
            F.round(F.col("rain_1h_mm") * 10).cast("long"),
        ]
        got = fingerprint_of(self.spark.read.parquet(obs_path), cols)
        return [] if got == tuple(expected) else [f"observations {got} != {tuple(expected)}"]

    # -- traced-run step probes -------------------------------------------------
    def _probe_steps(self, tracer, run_id, cities, provinces, prev_snap, lay) -> None:
        """Each pipeline step forced on its own, in its own job group, with
        the previous step's output checkpointed so no step re-runs another.
        Probes run before the scheduled run, outside its timing."""
        spark = self.spark
        old = spark.read.parquet(prev_snap) if prev_snap else None
        held = []

        def force(name, layer, df):
            with tracer.span(name, layer, run_id) as sp:
                out = df.localCheckpoint()
            held.append(out)
            add(lay, name, sp.seconds)
            return out

        merged = force("plans.pipeline.merge", "plans", merge_cities_provinces(cities, provinces))
        changes = force("plans.pipeline.diff", "operators", detect_changes(merged, old))
        sides = dict(changes.groupBy("diff_side").count().collect())
        add(lay, "changed_rows", sum(sides.values()))
        if old is not None and not sides:
            snapshot = old  # run_pipeline's reuse-snapshot path
            add(lay, "plans.pipeline.geocode", 0.0)
        else:
            snapshot = force(
                "plans.pipeline.geocode", "operators",
                geocode_locations(merged, changes, old, self.probe_geocoder),
            )
        dim = force("plans.pipeline.dim", "plans", build_locations_dim(snapshot))
        with tracer.span("plans.pipeline.ingest", "plans", run_id) as sp:
            noop(ingest_weather(snapshot, dim, self.probe_weather))
        add(lay, "plans.pipeline.ingest", sp.seconds)

        # functions.json_flatten alone, on payloads the benchmark renders.
        rows = [
            (n, p, json.dumps(gen.weather_payload(n, p)))
            for n, p in snapshot.select("name", "province_name").collect()
        ]
        raw = spark.createDataFrame(
            rows, "location_name string, province_name string, weather_json string"
        )
        with tracer.span("functions.json_flatten", "functions", run_id) as sp:
            parsed = raw.withColumn("payload", parse_weather_json(F.col("weather_json")))
            noop(flatten_weather(parsed))
        add(lay, "functions.json_flatten", sp.seconds)
        for df in held:
            df.unpersist()

