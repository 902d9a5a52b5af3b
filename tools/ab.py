"""Per-query timing probe and interleaved A/B, single process.

Usage:
    python tools/ab.py [--reps N] [--a KIND:K=V ...] [--b KIND:K=V ...] q [q ...]

An arm is a set of assignments, each ``conf:K=V`` (a runtime Spark conf)
or ``env:K=V`` (an environment variable read at DataFrame construction).
A key one arm leaves out keeps the session's value from before the run.
With only ``--a`` this is a probe: each query's min/max over the reps.
With ``--b`` as well, each rep runs every query under A then under B,
back to back, so a host-noise window inflates both arms almost equally,
and each query gets a B/A ratio of the minima.

Runs against $SPARK_GRAFT_SF_DIR (default sf0.1) through the noop sink,
after bench.py's warm-up, and prints one JSON line. Every assignment is
undone when the run ends.

NOTE: CATALOG[name].fn(...) is called INSIDE the timed, arm-applied
window — deliberately. Operators run eager checkpoint jobs at
DataFrame-construction time, so construction must stay inside the
interval (and after the arm is applied) or checkpoint work would be timed
under the wrong arm. Do not hoist query construction out of the loop.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force, warm_up  # noqa: E402
from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import (  # noqa: E402
    CATALOG,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.session import (  # noqa: E402
    get_spark,
)


def parse_arm(assignments: list[str]) -> dict[str, dict[str, str]]:
    """``["conf:k=v", "env:K=V"]`` -> ``{"conf": {k: v}, "env": {K: V}}``."""
    arm: dict[str, dict[str, str]] = {"conf": {}, "env": {}}
    for a in assignments:
        kind, _, kv = a.partition(":")
        key, eq, val = kv.partition("=")
        if kind not in arm or not key or not eq:
            raise ValueError(f"expected conf:K=V or env:K=V, got {a!r}")
        arm[kind][key] = val
    return arm


def run(spark, sf_dir: str, names: list[str], arms: list[list[str]], reps: int = 3) -> dict:
    """Time ``names`` under one arm (probe) or two interleaved arms (A/B)."""
    if len(arms) not in (1, 2):
        raise ValueError("one arm (probe) or two arms (A/B)")
    parsed = [parse_arm(a) for a in arms]
    labels = "AB"[: len(arms)]
    conf_keys = sorted({k for p in parsed for k in p["conf"]})
    env_keys = sorted({k for p in parsed for k in p["env"]})
    conf0 = {k: spark.conf.get(k, None) for k in conf_keys}
    env0 = {k: os.environ.get(k) for k in env_keys}

    def apply(arm: dict[str, dict[str, str]]) -> None:
        for k in conf_keys:
            v = arm["conf"].get(k, conf0[k])
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for k in env_keys:
            v = arm["env"].get(k, env0[k])
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v

    sc = spark.sparkContext
    warm_up(spark, sf_dir)
    t = {n: {lab: [] for lab in labels} for n in names}
    try:
        for _ in range(reps):
            for name in names:
                for lab, arm in zip(labels, parsed):
                    apply(arm)
                    sc.setJobDescription(f"ab:{name}:{lab}")
                    t0 = time.perf_counter()
                    force(CATALOG[name].fn(spark, sf_dir))
                    t[name][lab].append(time.perf_counter() - t0)
                    sc.setJobDescription(None)
                    spark.catalog.clearCache()
    finally:
        apply({"conf": {}, "env": {}})
        sc.setJobDescription(None)

    out: dict = {lab: arm for lab, arm in zip(labels, parsed)}
    out.update(sf_dir=sf_dir, reps=reps, queries={})
    totals = dict.fromkeys(labels, 0.0)
    for n in names:
        q = out["queries"][n] = {}
        for lab in labels:
            q[f"{lab}_min"] = round(min(t[n][lab]), 3)
            q[f"{lab}_max"] = round(max(t[n][lab]), 3)
            totals[lab] += min(t[n][lab])
        if len(labels) == 2:
            q["B/A"] = round(min(t[n]["B"]) / min(t[n]["A"]), 3)
    for lab in labels:
        out[f"total_{lab}"] = round(totals[lab], 3)
    if len(labels) == 2:
        out["total_B/A"] = round(totals["B"] / totals["A"], 3)
    out["loadavg"] = round(os.getloadavg()[0], 2)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", action="append", default=[], metavar="KIND:K=V")
    ap.add_argument("--b", action="append", default=[], metavar="KIND:K=V")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    arms = [args.a, args.b] if args.b else [args.a]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rtw-ab")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, sf_dir, args.queries, arms, args.reps)))
    spark.stop()


if __name__ == "__main__":
    main()
