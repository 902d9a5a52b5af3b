"""Similarity search over embedding columns (SURVEY.md §7.6).

Two tiers:
  * brute-force cosine top-k — the exactness baseline: broadcast the query
    set, one pass over the corpus, per-query ranking. Linear in corpus
    size; at 100 TB this is the verification tool, not the serving path.
  * random-hyperplane LSH ANN — the scale path: each vector gets a
    b-bit bucket from sign(v·plane_p); queries only score candidates in
    their own bucket, so the join is an equi-join on bucket id and the
    scored volume drops by ~2^b.

Dot products and norms use a sequential left fold (Spark ``aggregate`` /
DuckDB ``list_reduce`` seeded identically) so both engines produce
bit-identical doubles — the oracle hash-compare depends on it.

Hyperplanes are derived from md5, not an RNG, so the exact same constants
are inlined into the DuckDB oracle (deterministic, seedless).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import oracle_quantize_double, quantize_double


def _fold_sum_spark(arr_expr: str) -> str:
    return f"aggregate({arr_expr}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


def _fold_sum_duck(arr_expr: str) -> str:
    # list_reduce seeds from the first element; prepend 0.0 to mirror
    # Spark's explicit-init left fold exactly.
    return f"list_reduce(list_concat([0.0], {arr_expr}), (acc, x) -> acc + x)"


def vec_double_col(emb_col: str = "embedding") -> Column:
    """float[] → double[] once, before any arithmetic (both engines then do
    identical double math)."""
    return F.expr(f"transform({emb_col}, x -> CAST(x AS DOUBLE))")


def vec_double_sql(emb_col: str = "embedding") -> str:
    return f"list_transform({emb_col}, x -> CAST(x AS DOUBLE))"


def finite_vec_pred(emb_col: str = "embedding", dim: int | None = None) -> Column:
    """Well-formed-vector contract (degenerate-parity sweep, round 7): every
    component present and finite, optionally exactly ``dim`` long. A
    malformed vector — ragged crawl shard, NaN batch from a broken encoder —
    is MISSING by contract: dropped before any geometry, never an ANSI cast
    abort, and never left to comparison semantics (DuckDB orders NaN above
    +Inf, Spark's NaN comparisons return false, so an unguarded
    ``cos >= threshold`` silently disagrees across engines).

    Zero-length vectors are malformed too (round-8 advice): ``forall`` on
    an empty array is vacuously true, but an empty vector has no geometry
    — norm 0, dot 0, cos 0/0 = NaN — and with two of them the dim-less
    sites' equal-length guards pass (0 = 0), so a NaN pair could reach a
    threshold predicate where the engines' NaN semantics diverge. When
    ``dim`` is given the size equality already excludes them."""
    e = F.expr(
        f"forall({emb_col}, x -> x IS NOT NULL AND NOT isnan(x) "
        f"AND abs(x) <> CAST('Infinity' AS DOUBLE))"
    )
    if dim is not None:
        e = (F.size(F.col(emb_col)) == dim) & e
    else:
        e = (F.size(F.col(emb_col)) > 0) & e
    return e


def finite_vec_sql(emb_col: str = "embedding", dim: int | None = None) -> str:
    """DuckDB twin of ``finite_vec_pred`` (NULL elements must be caught
    explicitly: ``NOT isfinite(NULL)`` is NULL, which list_filter drops)."""
    base = f"len(list_filter({emb_col}, x -> x IS NULL OR NOT isfinite(x))) = 0"
    if dim is not None:
        base = f"len({emb_col}) = {dim} AND {base}"
    else:
        base = f"len({emb_col}) > 0 AND {base}"
    return base


def norm_col(vec_col: str = "v") -> Column:
    return F.expr(f"sqrt({_fold_sum_spark(f'transform({vec_col}, x -> x * x)')})")


def norm_sql(vec_col: str = "v") -> str:
    return f"sqrt({_fold_sum_duck(f'list_transform({vec_col}, x -> x * x)')})"


def dot_spark(a: str, b: str) -> str:
    """Spark-SQL snippet form of the dot product — the string the
    quantize_double template needs (tie-margin audit, round 9: the
    cosine rounds moved from plain 6-dp rounding to the engine-identical
    half-away template so a cosine landing on a 6-dp half cannot split
    the engines)."""
    return _fold_sum_spark(f"zip_with({a}, {b}, (x, y) -> x * y)")


def dot_col(a: str, b: str) -> Column:
    return F.expr(dot_spark(a, b))


def dot_sql(a: str, b: str, dim: int) -> str:
    # DuckDB's native list_inner_product accumulates products in the
    # same ascending index order as the explicit left fold, so it is
    # BITWISE-identical (pinned DuckDB-vs-DuckDB on the real corpus by
    # tests/test_oracle_linearization.py) while dropping the per-pair
    # range+transform+concat list materialization — the change that
    # brought the ann/ivf oracles inside the sf10 time box (round 7).
    # `dim` stays in the signature: it documents the fixed-width
    # contract and keeps every call site explicit about it.
    return f"list_inner_product({a}, {b})"


def cosine_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: rows matching ``query_pred`` are the queries.

    Plan: tiny query side is broadcast; corpus is scanned once with
    norm precomputed per row (not per pair); ranking shuffles only
    (n_queries × corpus) scored rows partitioned by query id.
    Ingestion applies the well-formed-vector contract (finite_vec_pred):
    ragged or non-finite vectors are missing, on both engines.
    """
    base = (
        emb.filter(finite_vec_pred(emb_col))
        .select(F.col(id_col).alias("vid"), vec_double_col(emb_col).alias("v"))
        # Small-file scans arrive as 1-2 partitions; spread so the
        # (n_queries × corpus) scoring pass uses every core.
        .repartition(F.col(id_col))
        .withColumn("nrm", norm_col("v"))
        # nrm > 0: an all-zero vector passes finite_vec_pred but makes
        # cos = 0/0 = NaN — Spark's quantize floor(NaN) would ANSI-abort
        # while the DuckDB twin sails on with NaN (round-9 advice). Both
        # twins drop zero-norm vectors, like ivf_topk already does.
        .filter(F.col("nrm") > 0)
    )
    q = base.filter(query_pred).select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        # the equal-length predicate lives in the JOIN (the oracle's
        # len(n.v) = len(q.qv) twin): filtering on cos_sim IS NOT NULL
        # post-projection would make Catalyst substitute and re-evaluate
        # the 64-element dot fold per pair (measured ~3x)
        base.join(
            F.broadcast(q),
            (F.col("vid") != F.col("query_id"))
            & (F.size(F.col("v")) == F.size(F.col("qv"))),
        )
        .withColumn("cos_sim", quantize_double(dot_spark("qv", "v") + " / (qn * nrm)", 6))
        .select("query_id", F.col("vid").alias("neighbor_id"), "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_sql(
    query_pred_sql: str,
    dim: int,
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_double_sql(emb_col)} AS v FROM {table}
  WHERE {finite_vec_sql(emb_col)}),
normed AS (
  SELECT * FROM (SELECT vid, v, {norm_sql('v')} AS nrm FROM base)
  WHERE nrm > 0),
q AS (
  SELECT vid AS query_id, v AS qv, nrm AS qn FROM normed WHERE {query_pred_sql}),
scored AS (
  SELECT q.query_id, n.vid AS neighbor_id,
         {oracle_quantize_double(dot_sql('q.qv', 'n.v', dim) + ' / (q.qn * n.nrm)', 6)} AS cos_sim
  FROM normed n CROSS JOIN q
  WHERE n.vid <> q.query_id AND len(n.v) = len(q.qv)),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# LSH (random hyperplane) ANN
# --------------------------------------------------------------------------


def lsh_planes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic seedless hyperplanes: plane[p][d] derived from
    md5(f"plane_{p}_{d}") → uniform in [-1, 1), rounded to 6dp so the
    literal parses to the identical double in Spark and DuckDB.
    ``table`` > 0 derives an independent plane set (multi-table
    OR-amplification); table 0 keeps the historical naming so existing
    plans and oracles are byte-identical."""
    planes = []
    prefix = "plane" if table == 0 else f"t{table}_plane"
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{prefix}_{p}_{d}".encode()).hexdigest()[:7], 16)
            row.append(round((h / float(1 << 28)) * 2.0 - 1.0, 6))
        planes.append(row)
    return planes


def _plane_array_spark(plane: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + ")"


def _plane_array_duck(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + "]"


def lsh_bucket_col(vec_col: str, planes: list[list[float]]) -> Column:
    """b-bit bucket id: bit p = 1 iff v·plane_p > 0."""
    terms = []
    for p, plane in enumerate(planes):
        dot = _fold_sum_spark(f"zip_with({vec_col}, {_plane_array_spark(plane)}, (x, y) -> x * y)")
        terms.append(f"(CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    return F.expr(" + ".join(terms))


def lsh_buckets_col(
    vec_col: str, tables: list[list[list[float]]], dim: int
) -> Column:
    """Per-table LSH bucket ids as ``array<bigint>`` — ONE vectorized Arrow
    pass instead of ``len(tables) * n_planes`` interpreted folds of
    :func:`lsh_bucket_col` (r11: ann_lsh_multitable 2.8 s → 1.1 s at
    sf0.1, 7.6 s → 1.4 s at sf1; OPTIMIZATION_r11.md).

    Bitwise parity with :func:`lsh_bucket_col` on finite vectors: each
    plane dot accumulates per-dimension in ASCENDING index order — the
    identical IEEE op sequence to the sequential left fold both engines'
    SQL uses — and the bucket bit is ``dot > 0``. The parity rests on the
    finite/dim ingestion contract callers apply first: Spark orders NaN
    above every number, so a NaN dot is bit 1 in the expression form but
    bit 0 here. A row of the wrong length or NULL degrades to bucket 0 per
    table, the expression form's NULL-dot semantics, instead of crashing
    vstack.
    """
    from pyspark.sql.functions import pandas_udf

    n_tables = len(tables)
    n_planes = len(tables[0])
    pmat = [list(p) for tb in tables for p in tb]  # table-major (L*b) × dim

    @pandas_udf("array<bigint>")
    def buckets(v):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        n = len(v)
        if n == 0:
            return pd.Series([], dtype=object)
        P = np.asarray(pmat)  # (L*b) × dim
        w = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
        vs = v.to_numpy()
        lens = np.fromiter(
            (len(x) if x is not None else -1 for x in vs), dtype="int64", count=n
        )
        good = lens == dim
        out = np.zeros((n, n_tables), dtype="int64")
        if good.any():
            V = np.vstack(vs[good])
            acc = np.zeros((V.shape[0], P.shape[0]))
            for d in range(dim):
                acc += np.outer(V[:, d], P[:, d])
            bits = (acc > 0.0).reshape(V.shape[0], n_tables, n_planes)
            out[good] = bits.astype(np.int64) @ w
        return pd.Series(list(out))

    return buckets(F.col(vec_col))


def lsh_bucket_sql(vec_col: str, planes: list[list[float]], dim: int) -> str:
    # list_inner_product, not the lambda fold: same ascending-index
    # accumulation, so BITWISE-identical (the round-7 dot_sql lesson,
    # pinned by tests/test_oracle_linearization.py) — and ~50× faster in
    # DuckDB (measured 53.4 s -> ~1 s per table-pass at sf1; the lambda
    # fold was the entire cost of the multi-table oracle, round 10).
    terms = []
    for p, plane in enumerate(planes):
        dot = f"list_inner_product({vec_col}, {_plane_array_duck(plane)})"
        terms.append(
            f"(CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


def ann_lsh_topk(
    emb: DataFrame,
    query_pred: Column,
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The scale win: the scoring join is an equi-join on ``bucket`` (hash
    shuffle, AQE-skew-safe) instead of a broadcast cross product — scored
    pairs shrink by ~2^n_planes. Recall is tested against the brute-force
    baseline in tests/test_similarity.py.

    ``n_tables`` > 1 is OR-amplification: each table is an independent
    plane set, a candidate qualifies if it collides in ANY table, so
    per-neighbor miss probability drops from (1-p^b) to (1-p^b)^L at
    ~L× candidate cost. On an isotropic corpus (true neighbors near 66°,
    p≈0.63 per plane) single-table recall@10 is only ~6% at sf1 — the
    measured curve lives in BASELINE.md §ANN recall, with a floor pinned
    by tests/test_ann_recall.py. The multi-table plan stays one equi-join
    keyed on (table, bucket) — the explode adds a factor L to the probe
    side, never a cross product — and duplicate collisions are collapsed
    BEFORE scoring (groupBy on the pair key), so each candidate pair pays
    its 64-dim dot exactly once.
    """
    # well-formed-vector ingestion WITH the dim constraint, matching the
    # oracle's finite_vec_sql(emb_col, dim) guard (round-8 advice: the
    # dim-less form let a finite ragged vector survive Spark-side only —
    # NULL plane dots -> bucket 0 -> a NULL-cos candidate in sparse
    # buckets that the oracle never saw).
    emb = emb.filter(finite_vec_pred(emb_col, dim))
    if n_tables == 1:
        planes = lsh_planes(n_planes, dim)
        base = (
            emb.select(F.col(id_col).alias("vid"), vec_double_col(emb_col).alias("v"))
            # Spread small-file scans so bucket scoring parallelizes.
            .repartition(F.col(id_col))
            .withColumn("nrm", norm_col("v"))
            # zero-norm gate — see cosine_topk; both twins apply it.
            .filter(F.col("nrm") > 0)
            # single-table stays the interpreted expression: 6 folds/row,
            # and with the eqNullSafe dedup below it is measured FASTER
            # than the Arrow kernel at sf0.1 AND sf1 (0.76/0.88 s vs
            # 0.92/1.02 s interleaved) — the per-task Arrow round-trip
            # outweighs 6 folds; the kernel pays off from ~2 tables up
            # (multi-table path below).
            .withColumn("bucket", lsh_bucket_col("v", planes))
        )
        q = base.filter(query_pred).select(
            F.col("vid").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("bucket").alias("qbucket"),
        )
        scored = (
            # eqNullSafe, not a USING join: plain equality makes Catalyst
            # infer isnotnull(bucket) and push it BELOW the bucket
            # projection, re-evaluating the Arrow kernel once per side just
            # to test a never-null output (guide §4.4 duplication; the
            # kernel always emits a bucket). <=> keys still drive a hash
            # equi-join, and bucket is never NULL on either engine, so the
            # matched pairs are identical.
            base.join(q, F.col("bucket").eqNullSafe(F.col("qbucket")))
            .filter(F.col("vid") != F.col("query_id"))
            .withColumn("cos_sim", quantize_double(dot_spark("qv", "v") + " / (qn * nrm)", 6))
            .select("query_id", F.col("vid").alias("neighbor_id"), "cos_sim")
        )
    else:
        tables = [lsh_planes(n_planes, dim, table=tb) for tb in range(n_tables)]
        flat = (
            emb.select(F.col(id_col).alias("vid"), vec_double_col(emb_col).alias("v"))
            .repartition(F.col(id_col))
            .withColumn("nrm", norm_col("v"))
            # zero-norm gate — see cosine_topk; both twins apply it.
            .filter(F.col("nrm") > 0)
            .withColumn("buckets", lsh_buckets_col("v", tables, dim))
            # posexplode_OUTER: the non-outer generator's implicit
            # size(buckets) > 0 pruning filter is pushed below the
            # exchange and drags a duplicate of the Arrow bucket kernel
            # with it (guide §4.4 — UDF evaluated twice per subtree).
            # The kernel always emits a length-L array, so outer vs
            # inner generate the identical rows here.
            .select(
                "vid", "v", "nrm", F.posexplode_outer("buckets").alias("tbl", "bucket")
            )
        )
        q = flat.filter(query_pred).select(
            F.col("vid").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            "tbl",
            "bucket",
        )
        cand = (
            flat.join(q, ["tbl", "bucket"])
            .filter(F.col("vid") != F.col("query_id"))
            # collapse multi-table duplicate collisions to ONE row per
            # candidate pair before the dot — vectors ride the shuffle
            # once (first() is exact: every duplicate carries the same v)
            .groupBy("query_id", "vid")
            .agg(
                F.first("qv").alias("qv"),
                F.first("qn").alias("qn"),
                F.first("v").alias("v"),
                F.first("nrm").alias("nrm"),
            )
        )
        scored = (
            cand.withColumn(
                "cos_sim",
                quantize_double(dot_spark("qv", "v") + " / (qn * nrm)", 6),
            )
            .select("query_id", F.col("vid").alias("neighbor_id"), "cos_sim")
        )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_lsh_topk_sql(
    query_pred_sql: str,
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = 1,
) -> str:
    if n_tables > 1:
        # OR-amplified twin of the multi-table Spark path, LINEARIZED the
        # same way the Spark plan is (round-10; this was the last strict-
        # ladder exclusion at sf10): candidate pairs are DEDUPED as bare
        # (query_id, vid) keys BEFORE any scoring, then the vectors join
        # back and each surviving pair pays its 64-dim dot exactly ONCE.
        # The previous form evaluated the dot per duplicated collision
        # row and DISTINCTed after — value-identical (cos is a function
        # of the pair) but ~L× the fold work plus DISTINCT over rows
        # carrying 64-element lists; 451.6 s at sf1, unaffordable at
        # sf10. `flat` is also projected to (vid, tbl, bucket) only, so
        # the collision join never materializes vectors. MATERIALIZED
        # pins the once-per-CTE evaluation (the AS MATERIALIZED lesson
        # from the round-9 jaccard twins). The scoring join-back goes
        # through normed_u (DISTINCT per vid) rather than normed: the
        # Spark plan collapses candidate pairs BEFORE scoring, so on
        # duplicated natural keys a join back to the raw rows would
        # re-multiply each pair by its copy count on the oracle side
        # only (dup-parity sweep, round 10). Copies carry identical
        # vectors by the dup-safety contract, so DISTINCT is exact.
        tables = [lsh_planes(n_planes, dim, table=tb) for tb in range(n_tables)]
        buckets = ", ".join(lsh_bucket_sql("v", tb, dim) for tb in tables)
        return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_double_sql(emb_col)} AS v FROM {table}
  WHERE {finite_vec_sql(emb_col, dim)}),
normed AS MATERIALIZED (
  SELECT * FROM (
    SELECT vid, v, {norm_sql('v')} AS nrm, [{buckets}] AS buckets
    FROM base) WHERE nrm > 0),
flat AS MATERIALIZED (
  SELECT vid, CAST(i AS INTEGER) AS tbl,
         buckets[CAST(i AS INTEGER)] AS bucket
  FROM normed, range(1, {n_tables + 1}) t(i)),
q AS (
  SELECT vid AS query_id, tbl, bucket
  FROM flat WHERE {query_pred_sql}),
pairs AS MATERIALIZED (
  SELECT DISTINCT q.query_id, n.vid
  FROM flat n JOIN q ON n.tbl = q.tbl AND n.bucket = q.bucket
  WHERE n.vid <> q.query_id),
normed_u AS MATERIALIZED (
  SELECT DISTINCT vid, v, nrm FROM normed),
scored AS (
  SELECT p.query_id, p.vid AS neighbor_id,
         {oracle_quantize_double(dot_sql('qv.v', 'nv.v', dim) + ' / (qv.nrm * nv.nrm)', 6)} AS cos_sim
  FROM pairs p
  JOIN normed_u qv ON qv.vid = p.query_id
  JOIN normed_u nv ON nv.vid = p.vid),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""
    planes = lsh_planes(n_planes, dim)
    return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_double_sql(emb_col)} AS v FROM {table}
  WHERE {finite_vec_sql(emb_col, dim)}),
normed AS (
  SELECT * FROM (
    SELECT vid, v, {norm_sql('v')} AS nrm,
           {lsh_bucket_sql('v', planes, dim)} AS bucket
    FROM base) WHERE nrm > 0),
q AS (
  SELECT vid AS query_id, v AS qv, nrm AS qn, bucket
  FROM normed WHERE {query_pred_sql}),
scored AS (
  SELECT q.query_id, n.vid AS neighbor_id,
         {oracle_quantize_double(dot_sql('q.qv', 'n.v', dim) + ' / (q.qn * n.nrm)', 6)} AS cos_sim
  FROM normed n JOIN q ON n.bucket = q.bucket
  WHERE n.vid <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: spherical k-means buckets
# --------------------------------------------------------------------------


def ivf_train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic spherical k-means: seeds = the ``n_centroids`` lowest
    vec_ids, then ``n_iter`` Lloyd rounds (assign by max dot on normalized
    vectors, recenter = per-dimension mean, renormalize).

    The per-round driver collect is K×dim floats — constant-size regardless
    of corpus scale; all heavy work (assignment, per-dim means) is
    distributed. This is how IVF indexes train at scale: tiny model state,
    streaming assignment.
    """
    from pyspark import StorageLevel

    vecs = (
        emb.filter(finite_vec_pred(emb_col))
        .select(F.col(id_col).alias("vid"), vec_double_col(emb_col).alias("v"))
        # Pin the persisted training set to cluster parallelism: an
        # unpinned repartition(col) inherits AQE's pre-coalesce width
        # (256), and caching 256 tiny partitions taxes every Lloyd-round
        # scan with per-task overhead (measured ~2x cold at sf1).
        .repartition(emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .withColumn("nrm", norm_col("v"))
        .filter(F.col("nrm") > 0)
        .withColumn("u", F.expr("transform(v, (x, i) -> x / nrm)"))
        .select("vid", "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seeds = vecs.orderBy("vid").limit(n_centroids).collect()
    cents = [list(r["u"]) for r in seeds]
    for _ in range(n_iter):
        assigned = vecs.withColumn("bucket", _nearest_centroid_col("u", cents))
        new = (
            assigned.select("bucket", F.posexplode("u").alias("pos", "x"))
            .groupBy("bucket", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"))
            .select("bucket", F.expr("transform(ms, s -> s.m)").alias("c"))
            .collect()
        )
        by_bucket = {r["bucket"]: list(r["c"]) for r in new}
        # keep prior centroid for emptied buckets; renormalize
        nxt = []
        for i, old in enumerate(cents):
            c = by_bucket.get(i, old)
            n = sum(x * x for x in c) ** 0.5
            nxt.append([x / n for x in c] if n > 0 else old)
        cents = nxt
    vecs.unpersist()
    return [[round(x, 6) for x in c] for c in cents]


def _centroid_dots(u_series, cmat):  # type: ignore[no-untyped-def]
    """(batch × K) centroid dot products with per-dimension ascending
    accumulation — bit-identical to the sequential left fold the DuckDB
    oracle uses, so argmax/argsort decisions agree across engines even
    when two centroids nearly tie. Still vectorized: dim outer-product
    accumulations per Arrow batch, not K interpreted fold-dots per row."""
    import numpy as np

    C = np.asarray(cmat)  # K × dim
    U = np.vstack(u_series.to_numpy())  # batch × dim
    acc = np.zeros((U.shape[0], C.shape[0]))
    for d in range(C.shape[1]):
        acc += np.outer(U[:, d], C[:, d])
    return acc


def _nearest_centroid_col(unit_col: str, cents: list[list[float]]) -> Column:
    """argmax dot(u, centroid) as an int bucket id; ties take the lowest
    bucket (numpy argmax = first occurrence, mirrored in the SQL twin)."""
    from pyspark.sql.functions import pandas_udf

    cmat = [list(c) for c in cents]

    @pandas_udf("int")
    def assign(u):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        return pd.Series(np.argmax(_centroid_dots(u, cmat), axis=1).astype("int32"))

    return assign(F.col(unit_col))


def _top_probe_buckets_col(unit_col: str, cents: list[list[float]], n_probe: int) -> Column:
    """The n_probe bucket ids with highest centroid dot product, best-first;
    ties take the lower bucket (stable sort, mirrored in the SQL twin)."""
    from pyspark.sql.functions import pandas_udf

    cmat = [list(c) for c in cents]

    @pandas_udf("array<int>")
    def probes(u):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        order = np.argsort(-_centroid_dots(u, cmat), axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe].astype("int32")))

    return probes(F.col(unit_col))


def ivf_topk(
    emb: DataFrame,
    query_pred: Column,
    n_centroids: int = 16,
    n_iter: int = 1,
    n_probe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: queries score only vectors whose bucket is in
    their ``n_probe`` nearest centroid cells.

    Scale shape: corpus assignment is a map-only pass against broadcast
    centroids; the scoring join is an equi-join on bucket id (shuffle keyed
    by cell, AQE-skew-safe); scored volume drops ~n_probe/n_centroids.
    Versus LSH: data-adaptive cells follow the embedding distribution, at
    the cost of a constant-size training loop. Recall is measured against
    the brute-force baseline in tests (≈0.9 @ n_probe=2/16 cells on the
    test corpora). Pass ``centroids`` to reuse a trained index — the
    serving pattern: train once, assign/probe many times.
    """
    from pyspark import StorageLevel

    cents = centroids or ivf_train_centroids(emb, n_centroids, n_iter, id_col, emb_col)
    if not cents:
        # Training on an empty / fully-filtered corpus yields no
        # centroids; the result is an empty top-k, not an IndexError
        # (round-8 advice — this preserves the pre-dim-constraint
        # behavior on the empty-input sweep fixtures). Output schema
        # matches the populated path: id columns keep id_col's type.
        idt = emb.schema[id_col].dataType.simpleString()
        return emb.sparkSession.createDataFrame(
            [], f"query_id {idt}, neighbor_id {idt}, cos_sim DOUBLE, rank INT"
        )
    # well-formed-vector ingestion, mirrored by the oracle's WHERE guard
    dim = len(cents[0])
    base = (
        emb.filter(finite_vec_pred(emb_col, dim))
        .select(F.col(id_col).alias("vid"), vec_double_col(emb_col).alias("v"))
        # Pinned width, same rationale as the trainer: an unpinned
        # repartition(col) inherits AQE's pre-coalesce width and the
        # persisted assignment stage then pays per-task Arrow-UDF and
        # cache-partition overhead on every one of its consumers.
        .repartition(emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .withColumn("nrm", norm_col("v"))
        .filter(F.col("nrm") > 0)
        .withColumn("u", F.expr("transform(v, (x, i) -> x / nrm)"))
        .withColumn("bucket", _nearest_centroid_col("u", cents))
        .select("vid", "u", "bucket")
        # Two consumers (probe side + scoring join): without persist the
        # Arrow assignment UDF runs over the full corpus TWICE (measured
        # ~2× at sf≈1 — the same re-inlining pathology as the minhash
        # signature stage).
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    q = base.filter(query_pred).select(
        F.col("vid").alias("query_id"),
        F.col("u").alias("qu"),
        F.explode(_top_probe_buckets_col("u", cents, n_probe)).alias("bucket"),
    )
    scored = (
        base.join(q, "bucket")
        .filter(F.col("vid") != F.col("query_id"))
        .withColumn("cos_sim", quantize_double(dot_spark("qu", "u"), 6))
        .select("query_id", F.col("vid").alias("neighbor_id"), "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_array_duck(c: list[float]) -> str:
    return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in c) + "]"


def ivf_topk_sql(
    query_pred_sql: str,
    centroids: list[list[float]],
    dim: int,
    n_probe: int = 2,
    k: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> str:
    """DuckDB twin of ``ivf_topk`` with FROZEN centroids: assignment
    (argmax centroid dot, ties → lowest bucket = first occurrence),
    multi-probe (top n_probe by dot DESC, bucket ASC), and exact cosine
    scoring — every dot a sequential left fold, so the doubles driving
    argmax/argsort/round are bit-identical to the Spark plan's
    per-dimension-accumulation pandas UDFs."""
    K = len(centroids)
    cdots = ", ".join(
        _fold_sum_duck(
            f"list_transform(range(1, {dim + 1}), i -> u[i] * {_centroid_array_duck(c)}[i])"
        )
        for c in centroids
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_double_sql(emb_col)} AS v FROM {table}
  WHERE {finite_vec_sql(emb_col, dim)}),
normed AS (
  SELECT vid, v, {norm_sql('v')} AS nrm FROM base),
unit AS (
  SELECT vid, list_transform(v, x -> x / nrm) AS u FROM normed WHERE nrm > 0),
cd AS MATERIALIZED (
  -- K centroid-dot folds per vector is the expensive stage and feeds BOTH
  -- the assignment and the query-probe CTEs; DuckDB inlines plain CTEs
  -- per reference, so materialize (cost hint only, values unchanged).
  SELECT vid, u, [{cdots}] AS ds FROM unit),
assigned AS MATERIALIZED (
  SELECT vid, u, CAST(list_position(ds, list_max(ds)) - 1 AS INTEGER) AS bucket
  FROM cd),
qprobe AS (
  SELECT vid AS query_id, u AS qu, CAST(i AS INTEGER) AS bucket,
         row_number() OVER (PARTITION BY vid
                            ORDER BY ds[CAST(i AS INTEGER) + 1] DESC, i ASC) AS pr
  FROM cd, range(0, {K}) t(i)
  WHERE {query_pred_sql}),
scored AS (
  SELECT q.query_id, a.vid AS neighbor_id,
         {oracle_quantize_double(dot_sql('q.qu', 'a.u', dim), 6)} AS cos_sim
  FROM assigned a JOIN (SELECT * FROM qprobe WHERE pr <= {n_probe}) q
    ON a.bucket = q.bucket
  WHERE a.vid <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
"""


def cosine_candidates_vs_bounded(
    corpus: DataFrame,
    bench: list[tuple[int, list[float]]],
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Candidate (corpus_id, bench_id) pairs whose cosine can reach ``tau``
    — the Arrow-vectorized kernel for bounded-probe × corpus scoring
    (semantic decontamination, eval-set leakage sweeps).

    ``bench`` is a BOUNDED in-memory list (an eval suite: ≤ a few hundred
    vectors — callers enforce the cap, e.g. DECONTAM_BENCH_CAP); it ships
    inside the task closure, the corpus streams through ``mapInPandas`` in
    Arrow batches, and each batch is scored as one BLAS-shaped numpy pass
    instead of |corpus|×|bench| interpreted ``aggregate`` folds (measured
    ~4× on the sf1 sweep; the expanded-codegen alternative was 4-5× SLOWER
    — see BASELINE.md).

    Determinism contract (same as the ``near_dup_pairs_cosine_blocked``
    verify kernel, oracle-proven): dots and norms accumulate per-dimension
    in ascending order (``acc += A[:,d]*B[:,d]``) — bit-identical to the
    sequential left fold both engines' SQL uses. The kernel only
    PRE-FILTERS with a 1e-6 slack margin (NaN/Inf kept); it emits
    (dot, nrm, bn) and the caller judges ``dot/(nrm*bn) >= tau`` with the
    exact Catalyst expression, so the qualifying set cannot change.

    100 TB: map-only over the corpus scan — no shuffle at all until the
    caller's rollup of the (rare) above-threshold pairs.
    """
    import numpy as np

    schema_str = (
        f"{id_col} long, bench_id long, dot double, nrm double, bn double"
    )
    # NULL / zero-length vectors can't have a cosine: in the SQL twin
    # every aggregate over them is NULL and the threshold predicate drops
    # the pair, so excluding them here keeps the qualifying set identical
    # while keeping numpy rectangular (the weird-content sweep crashed
    # vstack on a ragged mix of 64-dim and empty arrays).
    bench = [b for b in bench if b[1] is not None and len(b[1]) > 0]
    if not bench:
        # An empty eval set is a legal state (epoch before the suite is
        # registered; a bench filter matching nothing): zero candidates,
        # same schema — not an IndexError off B.shape at plan build.
        return corpus.sparkSession.createDataFrame([], schema_str)
    bids = np.asarray([b[0] for b in bench], dtype="int64")
    B = np.asarray([b[1] for b in bench], dtype="float64")
    dim = B.shape[1]
    bn = np.zeros(len(bench))
    for d in range(dim):
        bn += B[:, d] * B[:, d]
    bn = np.sqrt(bn)
    margin = tau - 1e-6
    schema = schema_str

    def kernel(batches):  # type: ignore[no-untyped-def]
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vs = pdf[vec_col].to_numpy()
            good = np.fromiter(
                (x is not None and len(x) == dim for x in vs),
                dtype=bool,
                count=len(vs),
            )
            if not good.all():  # malformed vectors: no cosine, no pairs
                pdf = pdf[good]
                if pdf.empty:
                    continue
            V = np.vstack(pdf[vec_col].to_numpy())
            ids_c = pdf[id_col].to_numpy()
            acc = np.zeros((len(pdf), len(bids)))
            nn = np.zeros(len(pdf))
            for d in range(dim):
                acc += np.outer(V[:, d], B[:, d])
                nn += V[:, d] * V[:, d]
            nn = np.sqrt(nn)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / np.outer(nn, bn)
            keep = ~(cos < margin)
            ia, ib = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    id_col: ids_c[ia],
                    "bench_id": bids[ib],
                    "dot": acc[ia, ib],
                    "nrm": nn[ia],
                    "bn": bn[ib],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(kernel, schema)


def cosine_candidates_vs_bounded_df(
    corpus: DataFrame,
    bench_df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """DataFrame-side entry for ``cosine_candidates_vs_bounded``: collects
    the bench side into the task closure. The collect is BOUNDED BY
    CONTRACT — callers pass an already-capped eval set (e.g.
    DECONTAM_BENCH_CAP smallest ids, ≤512×64 doubles), the same budget
    class as the k-means seed/centroid collects in this module. Keeping
    the corpus pass map-only (closure-shipped bench) beats the
    alternative full corpus shuffle of a block-keyed applyInPandas —
    that's the trade a 100 TB corpus cares about."""
    bench = [
        (r[bench_id_col], r[vec_col]) for r in bench_df.collect()
    ]
    return cosine_candidates_vs_bounded(corpus, bench, tau, id_col, vec_col)


#: Hard cap on the input of the EXACT all-pairs baseline. The dot-product
#: count is inherently O(n²); the operator exists to *verify* the ANN scale
#: paths (ann_lsh_topk / ivf_topk), never to sweep a full corpus. The cap
#: is enforced INSIDE the operator (the max_rows smallest ids survive, via
#: a bounded top-k TakeOrderedAndProject — no full sort), mirroring the
#: DECONTAM_BENCH_CAP contract in plans/curation_queries.py: the quadratic
#: twin is structurally bounded, not bounded-by-convention. 4096 rows =
#: ≤ 8.4M pairs, a fixed verification budget at any corpus scale; the
#: sf0.01/sf0.1 corpora (500/2000 vectors) pass through unchanged.
EXACT_PAIRS_CAP = 4096


def near_dup_pairs_cosine_blocked(
    emb: DataFrame,
    threshold: float = 0.45,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_rows: int = EXACT_PAIRS_CAP,
    on_excess: str = "error",
) -> DataFrame:
    """All pairs with cosine ≥ threshold — EXACT, via block-pair replication
    + Arrow-vectorized verification. Same answer as ``near_dup_pairs_cosine``
    at any SF (the DuckDB brute-force oracle proves it), but a plan that
    survives scale.

    Input contract: at most ``max_rows`` vectors (the max_rows smallest
    ids) are considered — see EXACT_PAIRS_CAP. An exact quadratic baseline
    pointed at an unbounded corpus is a scale bug by definition; callers
    needing full-corpus near-dup use the ANN operators. When the cap would
    actually bind, the operator RAISES by default; pass
    ``on_excess='truncate'`` to accept the bounded verification budget
    (a warning is still emitted) — never a silent truncation.

    Why not banded LSH candidates here: at threshold 0.45 the qualifying
    pairs sit at cos 0.45–0.51 (angle ≈ 60°), so the per-hyperplane
    collision prob is ~0.65 vs ~0.5 for random pairs — no usable gap; any
    band scheme either misses true pairs or admits nearly everything. The
    scalable *exact* shape is block-nested pairing: hash each vector into
    one of P blocks, build the P(P+1)/2 unordered block pairs, route each
    block's rows to its pair-groups via two broadcast equi-joins (no
    CartesianProduct), and verify each group with one numpy pass.

    Determinism contract: dot products and norms accumulate per-dimension
    in ascending order (``acc += A[:,d]*B[:,d]``), which is bit-identical
    to the sequential left fold the SQL oracle uses; division and the
    final round(...,6)/threshold test happen Spark-side with the same
    expression as the oracle. The Python stage only pre-filters with a
    1e-6 slack margin (keeping NaN/Inf), so it can never change the
    qualifying set.

    Scale: O(n²/P) rows per task, replication factor P per side; at 100 TB
    pick P so a block fits executor memory — compute stays BLAS-speed and
    embarrassingly parallel, the classic exact all-pairs blocking.
    """
    from .bounds import bounded_key_cutoff

    # Well-formed-vector ingestion (finite_vec_pred): NULL, ragged and
    # non-finite vectors are missing by contract — mirrored by the
    # oracle's WHERE guard so the bounded-id cap binds on the SAME
    # qualifying set. (Previously only NULL was excluded; a NaN vector
    # then hit DuckDB's NaN-sorts-above-everything comparison while
    # Spark's NaN comparisons return false — silent divergence.)
    emb = emb.filter(finite_vec_pred(emb_col))
    pairs_schema = "vec_a long, vec_b long, dot double, na double, nb double"
    margin = threshold - 1e-6
    cutoff, _ = bounded_key_cutoff(
        emb, id_col, max_rows, on_excess, "near_dup_pairs_cosine_blocked"
    )

    def verify(key, pdf):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        bi, bj = key
        A = pdf[pdf["role"] == 0]
        B = pdf[pdf["role"] == 1]
        if A.empty or B.empty:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "dot": pd.Series(dtype="float64"),
                    "na": pd.Series(dtype="float64"),
                    "nb": pd.Series(dtype="float64"),
                }
            )
        # Vectors of UNEQUAL length can't pair (the SQL twin's zip/index
        # fold yields a NULL dot, which the threshold predicate drops),
        # and a ragged group would crash vstack — so score each distinct
        # length as its own rectangular sub-block. One length in healthy
        # data; the loop only exists so malformed rows degrade instead of
        # aborting the job (found by the weird-content sweep).
        lens_a = np.fromiter((len(x) for x in A["v"]), dtype="int64", count=len(A))
        lens_b = np.fromiter((len(x) for x in B["v"]), dtype="int64", count=len(B))
        if len(set(lens_a)) > 1 or len(set(lens_b)) > 1:
            frames = []
            for L in sorted(set(lens_a) & set(lens_b)):
                # Zero-length vectors are excluded at ingestion by
                # finite_vec_pred/finite_vec_sql (size > 0, round-8
                # advice: before that guard the oracle's 0=0 length
                # equality admitted a 0/0=NaN pair this kernel skipped);
                # the L==0 skip stays as defense in depth for callers
                # that bypass the shared ingestion filter.
                if L == 0:
                    continue
                frames.append(verify(key, pd.concat([A[lens_a == L], B[lens_b == L]])))
            return (
                pd.concat(frames)
                if frames
                else pd.DataFrame(
                    {
                        "vec_a": pd.Series(dtype="int64"),
                        "vec_b": pd.Series(dtype="int64"),
                        "dot": pd.Series(dtype="float64"),
                        "na": pd.Series(dtype="float64"),
                        "nb": pd.Series(dtype="float64"),
                    }
                )
            )
        VA = np.vstack(A["v"].to_numpy())
        VB = np.vstack(B["v"].to_numpy())
        ids_a = A["vid"].to_numpy()
        ids_b = B["vid"].to_numpy()
        dim = VA.shape[1]
        # per-dimension ascending accumulation == sequential fold order
        acc = np.zeros((len(A), len(B)))
        for d in range(dim):
            acc += np.outer(VA[:, d], VB[:, d])
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        for d in range(dim):
            na += VA[:, d] * VA[:, d]
            nb += VB[:, d] * VB[:, d]
        na, nb = np.sqrt(na), np.sqrt(nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / np.outer(na, nb)
        # slack filter can't rule a pair out (NaN/Inf kept for Spark to
        # judge); the diagonal block dedupes by vid order, off-diagonal
        # groups hold each unordered pair exactly once (block ids differ)
        # so every A×B pair is kept and emitted id-ordered.
        keep = ~(cos < margin)
        if bi == bj:
            keep &= ids_a[:, None] < ids_b[None, :]
        ia, ib = np.nonzero(keep)
        va, vb = ids_a[ia], ids_b[ib]
        lo = np.minimum(va, vb)
        hi = np.maximum(va, vb)
        return pd.DataFrame(
            {
                "vec_a": lo,
                "vec_b": hi,
                "dot": acc[ia, ib],
                "na": na[ia],
                "nb": nb[ib],
            }
        )

    bounded = emb if cutoff is None else emb.filter(F.col(id_col) <= cutoff)
    base = (
        bounded.select(
            F.col(id_col).cast("long").alias("vid"), vec_double_col(emb_col).alias("v")
        )
        # enforced input cap (see EXACT_PAIRS_CAP): the cutoff came from
        # ONE bounded top-k job (bounds.bounded_key_cutoff) and bounds the
        # plan as a plain pushed-to-scan id filter — cheaper than the old
        # orderBy+limit subplan, and never computed twice.
        .withColumn("blk", F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int"))
    )
    bp = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    pairs = base.sparkSession.createDataFrame(bp, "bi int, bj int")
    side_a = base.join(F.broadcast(pairs), base.blk == pairs.bi).select(
        "bi", "bj", F.lit(0).alias("role"), "vid", "v"
    )
    side_b = base.join(F.broadcast(pairs), base.blk == pairs.bj).select(
        "bi", "bj", F.lit(1).alias("role"), "vid", "v"
    )
    verified = (
        side_a.unionByName(side_b)
        .groupBy("bi", "bj")
        .applyInPandas(verify, schema=pairs_schema)
    )
    return (
        # NULL-gate zero norms BEFORE quantizing: an all-zero vector
        # passes finite_vec_pred, the kernel keeps its 0/0=NaN pair for
        # Spark to judge, and floor(NaN) would ANSI-abort while the
        # DuckDB twin (NaN sorts above everything) would PASS the
        # threshold — both twins now drop zero-norm rows (round-9
        # advice; the twin's normed CTE carries the matching nrm > 0).
        verified.withColumn(
            "cos_sim",
            quantize_double(
                "CASE WHEN na * nb > 0 THEN dot / (na * nb) END", 6
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def near_dup_pairs_cosine(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, brute-force).

    Correctness baseline for embedding near-dup detection; the scale path
    is ann_lsh_topk-style bucketing. Norms are computed once per vector.
    """
    from pyspark import StorageLevel

    base = (
        emb.filter(finite_vec_pred(emb_col))
        .select(F.col(id_col).alias("vid"), vec_double_col(emb_col).alias("v"))
        # Spread + persist: both join sides read this, and the O(n²) dot
        # products must parallelize across cores, not run in one task.
        .repartition(F.col(id_col))
        .withColumn("nrm", norm_col("v"))
        # zero-norm gate — see cosine_topk; keeps 0/0=NaN out of the
        # quantize and matches the oracle's nrm > 0.
        .filter(F.col("nrm") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .withColumn(
            "cos_sim",
            quantize_double(dot_spark("a.v", "b.v") + " / (a.nrm * b.nrm)", 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"), "cos_sim")
    )


def near_dup_pairs_cosine_sql(
    dim: int,
    threshold: float = 0.45,
    table: str = "embeddings",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_rows: int = EXACT_PAIRS_CAP,
) -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_double_sql(emb_col)} AS v FROM {table}
  WHERE {finite_vec_sql(emb_col)}
  ORDER BY vid ASC LIMIT {max_rows}),
normed AS (
  -- nrm > 0 AFTER the id cap: zero-norm vectors count toward the cap on
  -- both twins (Spark's bounded_key_cutoff sees them too), then drop.
  SELECT * FROM (SELECT vid, v, {norm_sql('v')} AS nrm FROM base)
  WHERE nrm > 0)
SELECT a.vid AS vec_a, b.vid AS vec_b,
       {oracle_quantize_double(dot_sql('a.v', 'b.v', dim) + ' / (a.nrm * b.nrm)', 6)} AS cos_sim
FROM normed a JOIN normed b ON a.vid < b.vid AND len(a.v) = len(b.v)
WHERE {oracle_quantize_double(dot_sql('a.v', 'b.v', dim) + ' / (a.nrm * b.nrm)', 6)} >= {threshold}
"""
