"""Benchmark harness: runs every catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

The JSON line is the ONLY stdout this process emits (Spark console
progress is disabled, log level ERROR), and the same payload is written to
``BENCH.json`` next to this file so the result survives even if a harness
truncates stdout. Each query is timed best-of-N (default 2 reps,
$SPARK_GRAFT_BENCH_REPS) so a single GC/JIT spike cannot masquerade as a
plan regression; per-query ``{min,max}`` spreads are reported under
``"variance"`` so noise claims are machine-checkable.

Each query is forced with a ``noop``-format write so the full plan executes
on the executors without driver-side collect overhead dominating the
measurement. Session reuse across queries amortizes JVM startup; the first
query is warmed once so JIT/codegen cost doesn't bias whichever query runs
first.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import CATALOG
from real_time_weather_data_pipeline_for_philippine_cities_spark.session import get_spark


def force(df) -> None:
    # noop sink: full execution, zero serialization back to the driver.
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """Absorb one-time JIT/codegen costs before timing. The flagship
    covers scan/join/window paths; the synthetic expression below
    exercises the higher-order-function + md5 interpreter paths that the
    dedup/similarity queries lean on (their first execution otherwise
    pays several seconds of JIT that is not query cost)."""
    force(CATALOG["flagship_latest_obs"].fn(spark, sf_dir))
    warm = spark.range(0, 200_000, 1, 8).selectExpr(
        "aggregate(transform(sequence(0, 9), i -> "
        "CAST(conv(substring(md5(CAST(id + i AS STRING)), 1, 7), 16, 10) AS LONG)),"
        " CAST(0 AS LONG), (a, x) -> a + x) AS s"
    )
    force(warm)
    # Spin up the Python/Arrow worker pool once: pandas-UDF queries
    # (IVF assign, blocked near-dup verify, multimodal mapInPandas)
    # otherwise pay ~1-2 s of daemon+import startup on first use, which is
    # environment cost, not query cost.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm_py(x):  # type: ignore[no-untyped-def]
        import numpy as np  # noqa: F401 — preload into the workers

        return x * 1.0

    force(spark.range(0, 32, 1, 32).select(_warm_py("id")))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("rtw-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:  # host-noise attribution: load BEFORE the run (external to Spark)
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None

    names = sorted(CATALOG)
    warm_up(spark, sf_dir)

    # Reps are INTERLEAVED (full catalog pass per rep, min per query across
    # passes) rather than back-to-back: a transient host-noise window then
    # inflates at most one rep of any query instead of all of them —
    # back-to-back reps recorded a 3x-consistent phantom regression for
    # whichever query sat inside the window.
    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    for _rep in range(reps):
        for name in names:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                force(CATALOG[name].fn(spark, sf_dir))
                samples[name].append(time.perf_counter() - t0)
            except Exception as ex:  # one broken query must not kill the bench
                errors[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
            finally:
                # Unpersist hygiene: operators persist intermediate stages
                # (LSH signatures, blocked bases); freed here so 69 queries
                # × reps of caches don't accumulate executor memory
                # pressure across the run.
                spark.catalog.clearCache()
    timings = {
        n: round(min(s), 4) for n, s in samples.items() if s
    }
    variance = {
        n: {"min": round(min(s), 4), "max": round(max(s), 4)}
        for n, s in samples.items()
        if s
    }

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "reps": reps,
        "variance": variance,
    }
    try:
        result["loadavg"] = {"start": load_start, "end": round(os.getloadavg()[0], 2)}
    except OSError:
        pass
    if errors:
        result["errors"] = errors
    if reps == 1:
        # Cold first-touch timings: persist-heavy queries run 5-10x their
        # min-of-N numbers (BASELINE.md round-4 findings) — flag it so a
        # single-rep artifact is never compared against min-of-N rows.
        result["note"] = "single-rep cold timings; not comparable to min-of-N rows"
    line = json.dumps(result)
    # Durable copy: survives any stdout truncation by the harness.
    (Path(__file__).resolve().parent / "BENCH.json").write_text(line + "\n")
    print(line)
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
