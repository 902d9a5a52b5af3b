"""Stage profile of the jaccard pair operators (r10 verdict item 4).

Usage: SPARK_GRAFT_SF_DIR=... python tools/jaccard_profile.py [reps]

Times each pipeline stage of dedup_allpairs_jaccard / dedup_ngram_jaccard
cumulatively through the noop sink (base -> prefix -> candidates -> full
query), warm minima over N reps, so the incremental cost of every stage is
attributable: candidates-minus-prefix is the prefix self-join, full-minus-
candidates is the verification join + aggregate barrier.

NOTE: stage boundaries replicate the operator bodies' persist structure;
construction runs inside the timed window (see the tools/ab.py note).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.dedup import (  # noqa: E402
    shingle_hash_expr,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.base import (  # noqa: E402
    t,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.session import (  # noqa: E402
    get_spark,
)


def force(df):
    df.write.format("noop").mode("overwrite").save()


def build_stages(spark, sf_dir, blocked: bool):
    """Returns [(stage_name, df)] mirroring (ngram|allpairs)_jaccard_pairs."""
    threshold = 0.7
    n = 3
    docs = t(spark, sf_dir, "documents")
    cols = [
        F.col("doc_id"),
        F.split(F.lower(F.col("text")), " +").alias("t"),
    ]
    if blocked:
        cols.append((F.col("n_chars").cast("long") / 50).cast("long").alias("bucket"))
    base = docs.select(*cols).filter(F.size("t") >= n).repartition(F.col("doc_id"))
    keep = ["doc_id", "bucket"] if blocked else ["doc_id"]
    base = (
        base.select(*keep, shingle_hash_expr("t", n).alias("hs"))
        .withColumn("sz", F.size("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    expl = base.select(*keep, "sz", F.explode("hs").alias("h"))
    freq = expl.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix = (
        expl.join(freq, "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.ceil(F.lit(1.0 - threshold) * F.col("sz")) + 1)
        .select(*keep, "h", "sz")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if blocked:
        cand = cand.filter(F.abs(F.col("a.bucket") - F.col("b.bucket")) <= 1)
    cand = (
        cand.filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return [("base", base), ("prefix", prefix), ("cand", cand)]


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("rtw-jaccard-profile")
    spark.sparkContext.setLogLevel("ERROR")
    from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import (
        CATALOG,
    )

    force(CATALOG["flagship_latest_obs"].fn(spark, sf_dir))  # warm JIT
    out: dict[str, dict[str, float]] = {}
    for qname, blocked in (
        ("dedup_allpairs_jaccard", False),
        ("dedup_ngram_jaccard", True),
    ):
        mins: dict[str, float] = {}
        for _ in range(reps):
            # cumulative: each timed point rebuilds from scratch so the
            # measured value is "cost of the pipeline up to this stage".
            for sname, df in build_stages(spark, sf_dir, blocked):
                spark.sparkContext.setJobDescription(f"profile:{qname}:{sname}")
                t0 = time.perf_counter()
                force(df)
                dt = time.perf_counter() - t0
                mins[sname] = min(mins.get(sname, 9e9), dt)
                print(f"# {qname}:{sname} {dt:.2f}s", file=sys.stderr, flush=True)
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{qname}:full")
            t0 = time.perf_counter()
            force(CATALOG[qname].fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            mins["full"] = min(mins.get("full", 9e9), dt)
            print(f"# {qname}:full {dt:.2f}s", file=sys.stderr, flush=True)
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        out[qname] = {k: round(v, 3) for k, v in mins.items()}
    print(
        json.dumps(
            {"sf_dir": sf_dir, "reps": reps, "stages_cumulative": out,
             "loadavg": round(os.getloadavg()[0], 2)}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
