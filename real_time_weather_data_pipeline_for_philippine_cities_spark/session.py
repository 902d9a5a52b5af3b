"""SparkSession construction and runtime tuning.

Every query in this engine assumes:
  * session timezone UTC (the reference's ``datetime.fromtimestamp`` is
    local-tz — SURVEY.md §7.7.4 — we pin UTC so results are machine-stable),
  * AQE enabled (runtime join-strategy selection, skew handling),
  * ``spark.sql.shuffle.partitions`` = the session's cores
    (``defaultParallelism``). With AQE on, batch shuffles start from
    ``initialPartitionNum`` instead, so this conf sizes only the plans
    that run with AQE off: streaming micro-batches, their state stores,
    and the batch frames inside ``foreachBatch``. A streaming checkpoint
    keeps the partition count it was created with.

``tune(spark)`` applies only runtime-settable confs, so it is safe on a
session we did not build (the driver passes us one).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to any session before running our plans.
_RUNTIME_CONFS = {
    # Pin timezone: reference uses local-time epoch conversion
    # (weather_data_fetcher.py:280-281); we standardize on UTC.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime broadcast selection, partition coalescing,
    # skew-join splitting — the scale story for 100 TB plans.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (mapInPandas enrichments).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The driver's events table carries TIMESTAMP(NANOS) parquet, which
    # Spark rejects natively; read as long and convert in the registry
    # (sources/registry.py) to microsecond timestamps, matching DuckDB's
    # µs truncation of the same files.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Per-query shuffle sizing is delegated to AQE: every shuffle STARTS at
# 256 pre-coalesce partitions and AQE merges down to its advisory byte
# size per exchange — tiny-lattice windows coalesce to a handful of tasks
# while pair-join heavies keep real parallelism, with no hand-tuned
# per-query partition counts (the 100 TB posture: initial = a few x total
# cores, coalesce does the rest). Measured at sf1 (70 queries, 48g heap):
# 108.2 s at the flat 32 -> 96.5 s at 256, sf0.1 neutral (52.6 vs 53.8 s);
# the one consistent loser is ivf_cosine_topk's collect-anchored training
# rounds (+2 s at sf1), dwarfed by the near_dup/simhash/ngram gains.
# Override with $SPARK_GRAFT_INITIAL_PARTS (0/empty disables).
_initial_parts = os.environ.get("SPARK_GRAFT_INITIAL_PARTS", "256")
if _initial_parts and _initial_parts != "0":
    _RUNTIME_CONFS[
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ] = _initial_parts

# Shuffled-hash over sort-merge where a per-partition hash map fits
# (optimization guide §3.1/§9): SMJ pays a full sort of BOTH sides per
# join — in the iterative plans (pagerank, cluster-assign) that is a
# re-sort of the same static edge relation every round. Two gates, both
# size-conditioned so big⋈big joins keep sort-merge's graceful spill:
#   * planner: preferSortMergeJoin=false picks SHJ only when one side is
#     ≤ 1/3 of the other AND fits a local map (< broadcastThreshold ×
#     shuffle partitions);
#   * AQE runtime: maxShuffledHashJoinLocalMapThreshold rewrites an
#     already-planned SMJ to SHJ when EVERY post-shuffle partition is
#     under the byte cap (set to the 64 MB advisory partition size — a
#     partition that coalesced to the advisory target builds a local map
#     of the same order; raise/lower with executor memory in production).
# Interleaved A/B at sf0.1 (tools/ab.py, min-of-3): heavies
# total 0.84× with zero losers above rep noise; mid-tier cohort 0.86×.
# AQE skew-split still applies to SHJ, so the skew posture is unchanged.
# Override with $SPARK_GRAFT_SHJ_LOCALMAP (bytes; 0/empty disables both).
#
# Production risk note (r10 advice): the PLANNER gate decides from
# Catalyst size ESTIMATES (canBuildLocalHashMap ≈ stats < broadcast
# threshold × shuffle partitions), and an SHJ build map cannot spill —
# a badly underestimated side (exploded/UDF intermediates; see the 128 MB
# broadcast experiment above) becomes an executor OOM where SMJ would
# have spilled. The AQE rewrite below it uses MEASURED runtime partition
# sizes and carries part of the win without that hazard. Measured (r11,
# interleaved A/B with the AQE rewrite active in both arms): the planner
# gate alone is still 0.875× over the 8-query join cohort at sf0.1
# (allpairs 0.76, asof_join 0.73), so it is NOT redundant with the AQE
# path — keep it locally; on a cluster with stale/absent stats flip
# preferSortMergeJoin back to true and keep the AQE threshold.
_shj_localmap = os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", str(64 * 1024 * 1024))
if _shj_localmap and _shj_localmap != "0":
    _RUNTIME_CONFS["spark.sql.join.preferSortMergeJoin"] = "false"
    _RUNTIME_CONFS[
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    ] = _shj_localmap


#: application ids whose reliable checkpoint dir has been set (one UUID
#: subdir is created per setCheckpointDir call, so set it exactly once).
_CKPT_DIR_SET: set[str] = set()


def materialize(df):
    """Cut lineage on a shared intermediate now (one job at the call), with
    the durability posture selected by ``$SPARK_GRAFT_CHECKPOINT``
    (round-10 verdict item: the lineage-cut sites were hardcoded
    ``localCheckpoint``, whose blocks are executor-local and unreplicated —
    on a real cluster a lost executor kills the job instead of
    recomputing).

      * ``local`` (default) — ``localCheckpoint``: fastest, blocks on the
        executors that computed them. The bench/local[N] posture; a lost
        executor aborts the query.
      * ``reliable`` — ``checkpoint`` to the reliable checkpoint dir
        (``$SPARK_GRAFT_CHECKPOINT_DIR``, default ``/tmp/rtw-checkpoints``;
        point it at HDFS/object storage on a cluster): blocks survive
        executor loss. Costs a write+read of the materialized set; the
        files are deleted once the frame is garbage-collected
        (``spark.cleaner.referenceTracking.cleanCheckpoints``, set by
        ``get_spark``).

    Every caller needs the cut itself: the iterative graph rounds keep
    their plans flat, the change-detect promote and the pipeline's
    snapshot sink overwrite the files the cut frame was read from. So a
    cache (``persist``) is not a mode: it keeps the lineage, so plans grow
    per round, a sink can re-read files it is overwriting, and nothing
    releases its blocks.

    Result VALUES are identical in both modes (pinned by
    tests/test_plan_shape.py::test_checkpoint_modes_agree).
    """
    mode = os.environ.get("SPARK_GRAFT_CHECKPOINT", "local")
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        app = sc.applicationId
        if app not in _CKPT_DIR_SET:
            sc.setCheckpointDir(
                os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/rtw-checkpoints")
            )
            _CKPT_DIR_SET.add(app)
        return df.checkpoint()
    if mode != "local":
        raise ValueError(f"SPARK_GRAFT_CHECKPOINT must be local or reliable, not {mode!r}")
    return df.localCheckpoint()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (idempotent).

    The AQE-off partition count follows the session's cores, because a
    state store costs a load and a commit per partition whatever its
    row count: 32 partitions on local[4] spent most of an AvailableNow
    invocation committing stores that held a few thousand rows.
    """
    confs = dict(_RUNTIME_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(spark.sparkContext.defaultParallelism)
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static on exotic builds; never fail a query
            # over tuning.
            pass
    return spark


def get_spark(app_name: str = "rtw-spark", master: str | None = None) -> SparkSession:
    """Build a local session (AQE on) on local[$SPARK_GRAFT_CPUS], by
    default the CPUs this process may use."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # No \r progress spam on stdout: bench.py's JSON line must be the
        # only stdout the harness captures (BENCH_r03 was truncated to
        # unparseability by console-progress output).
        .config("spark.ui.showConsoleProgress", "false")
        # Delete reliable-mode materialize() checkpoints once their frame
        # is garbage-collected; every scheduled pipeline run writes one.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # 32 MB broadcast budget. A 128 MB experiment shaved ~3 s off
        # ngram jaccard at sf≈1 (shingle-frequency table broadcast) but
        # cost 3-16x on the minhash/band pipelines at sf0.1 — the larger
        # gate let Catalyst broadcast big EXPLODED intermediates whose
        # driver-side build dwarfs the shuffle they replace. Measured,
        # reverted; AQE still upgrades to broadcast per-plan when the
        # runtime size estimate is genuinely small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)
