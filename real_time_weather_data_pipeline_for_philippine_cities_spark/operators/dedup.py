"""Deduplication operators for web/training-scale corpora (SURVEY.md §7.6).

Four families, all shuffle-conscious and UDF-free:

  exact        hash-groupBy on a content key — one shuffle on the content
               fingerprint, survivor = min id (deterministic).
  minhash-lsh  shingle → k minhash → band keys → equi-self-join on band
               buckets → exact-jaccard verification of candidates only.
               The self-join is on band keys (small buckets), NOT an
               all-pairs cross join — this is the 100 TB path.
  simhash      32-bit majority-bit signature computed entirely inside
               array expressions (no explode, no shuffle — map-only).
  ngram-block  token-set jaccard with length-bucket blocking; the ±1 bucket
               probe is expanded map-side into an equi-join (no range join,
               no nested-loop).

All hashing goes through md5-derived integers (functions.hashing) so the
DuckDB oracle reproduces every value bit-for-bit; each Spark builder here
has a ``*_sql`` twin emitting the equivalent DuckDB expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_PRIME, minhash_coefficients
from ..functions.rounding import oracle_round_div, round_div
from ..session import materialize

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Mark one survivor (min id) per exact content key.

    Output: input columns + ``dedup_key`` + ``kept`` (bool). One shuffle on
    the key via a window min — preferred over groupBy+join because it keeps
    carry-along columns without a second shuffle.
    """
    keyed = df.withColumn("dedup_key", key)
    return keyed.withColumn(
        "kept", F.col(id_col) == F.min(id_col).over(Window.partitionBy("dedup_key"))
    )


# --------------------------------------------------------------------------
# shingling + minhash (expressions over a tokens-array column named `tok_col`)
# --------------------------------------------------------------------------


def shingle_hash_expr(tok_col: str = "t", n: int = 3) -> Column:
    """Distinct 28-bit hashes of word n-gram shingles from an array column.

    Pure array expressions — map-side, inside whole-stage codegen. Caller
    must pre-filter ``size(tok_col) >= n`` (Spark's ``sequence`` would
    otherwise generate a descending range).
    """
    joined = ", ".join(f"{tok_col}[i+{j}]" for j in range(n))
    return F.expr(
        "array_distinct(transform("
        f"transform(sequence(0, size({tok_col}) - {n}), i -> concat_ws(' ', {joined})),"
        " s -> CAST(conv(substring(md5(s), 1, 7), 16, 10) AS LONG)))"
    )


def shingle_hash_sql(tok_col: str = "t", n: int = 3) -> str:
    """DuckDB twin (1-indexed lists; range(a,b) excludes b)."""
    joined = " || ' ' || ".join(f"{tok_col}[i+{j}]" for j in range(n))
    return (
        "list_distinct(list_transform("
        f"list_transform(range(1, len({tok_col}) - {n - 2}), i -> {joined}),"
        " s -> ('0x' || substring(md5(s), 1, 7))::BIGINT))"
    )


def minhash_sig_col(hashes: Column, k: int = 12) -> Column:
    """k-permutation minhash signature as array<long>. Products stay below
    2^59 (28-bit hash × 31-bit coefficient) — ANSI-overflow-safe."""
    coeffs = minhash_coefficients(k)

    def perm(a: int, b: int):
        return lambda h: (h * a + b) % MINHASH_PRIME

    sigs = [F.array_min(F.transform(hashes, perm(a, b))) for a, b in coeffs]
    return F.array(*sigs)


def minhash_sig_sql(hashes_expr: str, k: int = 12) -> str:
    coeffs = minhash_coefficients(k)
    sigs = [
        f"list_min(list_transform({hashes_expr}, h -> (h * {a} + {b}) % {MINHASH_PRIME}))"
        for a, b in coeffs
    ]
    return "[" + ", ".join(sigs) + "]"


def band_keys_col(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of one md5 band key per band (Spark arrays 0-indexed)."""
    keys = []
    for b in range(bands):
        parts = [sig[b * rows_per_band + r].cast("string") for r in range(rows_per_band)]
        keys.append(F.md5(F.concat_ws("_", *parts)))
    return F.array(*keys)


def band_key_sqls(sig_expr: str, bands: int, rows_per_band: int) -> list[str]:
    out = []
    for b in range(bands):
        parts = " || '_' || ".join(
            f"{sig_expr}[{b * rows_per_band + r + 1}]::VARCHAR" for r in range(rows_per_band)
        )
        out.append(f"md5({parts})")
    return out


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-jaccard verification.

    Plan shape (what matters at 100 TB):
      1. map-side: tokens → shingle hashes → signature → band keys (zero
         shuffles, whole-stage codegen);
      2. posexplode band keys and self-equi-join on (band_idx, band_key) —
         the shuffle is keyed by band buckets; AQE splits skewed buckets;
      3. distinct candidate pairs, then ONE hash-join back to the id→hashes
         map so only candidates pay the set-intersection cost.

    Output: doc_a, doc_b (doc_a < doc_b), jaccard (rounded 4dp) ≥ threshold.

    The signature stage is persisted: it feeds BOTH the band self-join and
    the verification joins (4 scans), and re-deriving it inlines the md5
    shingle/minhash expressions into downstream projections where they
    re-evaluate per consumer (measured 177s → <2s at sf0.1). persist over
    eager localCheckpoint was decided at sf1, not sf0.1: the checkpoint's
    row-serialized leaf won ~0.4 s at sf0.1 but LOST ~0.7 s at sf1 (r10
    interleaved A/B) — for a corpus-scale intermediate the columnar
    in-memory cache reads faster per consumer, and scale wins the tie.
    (Eager checkpoints stay on SMALL derived sets only: thresholded edge
    lists, capped bases — see part_basket_triangles / pagerank_scores.)
    On a cluster this stage would be checkpointed to storage;
    MEMORY_AND_DISK is the local analog and spills instead of OOMing.
    """
    from pyspark import StorageLevel

    rows_per_band = k // bands
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(F.col(text_col)), " +").alias("t"),
        )
        .filter(F.size("t") >= n)
        # Spread BEFORE the md5/minhash projections: a small-file scan
        # arrives as 1-2 partitions, which would serialize both the hash
        # compute and the downstream pairwise joins into single tasks.
        .repartition(F.col("doc_id"))
        .withColumn("hs", shingle_hash_expr("t", n))
        .withColumn("sig", minhash_sig_col(F.col("hs"), k))
        .withColumn("band_keys", band_keys_col(F.col("sig"), bands, rows_per_band))
        .select("doc_id", "hs", "band_keys")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands_df = base.select(
        "doc_id", F.posexplode("band_keys").alias("band_idx", "band_key")
    )
    cand = (
        bands_df.alias("a")
        .join(bands_df.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    hs_map = base.select("doc_id", "hs")
    pairs = (
        cand.join(hs_map.alias("ha"), F.col("doc_a") == F.col("ha.doc_id"))
        .join(hs_map.alias("hb"), F.col("doc_b") == F.col("hb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            # name the counts first: the exact-integer tie template
            # references its numerator several times, and a named column
            # evaluates the intersection once
            F.size(F.array_intersect(F.col("ha.hs"), F.col("hb.hs"))).alias("inter"),
            F.size(F.array_union(F.col("ha.hs"), F.col("hb.hs"))).alias("uni"),
        )
        .select("doc_a", "doc_b", round_div("inter", "uni", 4).alias("jaccard"))
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def minhash_near_dup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 3,
    threshold: float = 0.8,
) -> str:
    """DuckDB oracle for :func:`minhash_near_dup_pairs` — same algorithm,
    same constants, same hashes."""
    rows_per_band = k // bands
    band_sqls = band_key_sqls("sig", bands, rows_per_band)
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band_idx, {bk} AS band_key FROM sigs"
        for i, bk in enumerate(band_sqls)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, string_split_regex(lower({text_col}), ' +') AS t
  FROM {table}),
hashes AS (
  SELECT doc_id, {shingle_hash_sql('t', n)} AS hs
  FROM toks WHERE len(t) >= {n}),
sigs AS (
  SELECT doc_id, hs, {minhash_sig_sql('hs', k)} AS sig FROM hashes),
bands AS (
{band_union}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id),
counted AS MATERIALIZED (
  SELECT doc_a, doc_b,
         len(list_intersect(ha.hs, hb.hs)) AS inter,
         len(list_distinct(list_concat(ha.hs, hb.hs))) AS uni
  FROM cand
  JOIN hashes ha ON ha.doc_id = doc_a
  JOIN hashes hb ON hb.doc_id = doc_b),
pairs AS (
  SELECT doc_a, doc_b, {oracle_round_div('inter', 'uni', 4)} AS jaccard
  FROM counted)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


# --------------------------------------------------------------------------
# deterministic stratified sampling (training-data mixture quotas)
# --------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Hash-bucket stratified sampling: keep a row iff
    ``md5(salt || id) % 10000 < fraction * 10000`` for its stratum.

    Unlike ``sampleBy`` (RNG per partition — not reproducible across
    engines, partitionings, or reruns), hash bucketing is a pure function
    of the row id: the sample is stable under repartitioning, incremental
    reprocessing, and is exactly reproducible by any engine with md5 —
    which is what a training-data mixture needs (rerunning the pipeline
    must not churn the corpus). Strata absent from ``fractions`` are
    dropped (quota 0).
    """
    bucket = F.expr(
        f"CAST(conv(substring(md5(concat('{salt}', CAST({id_col} AS STRING))), 1, 7),"
        " 16, 10) AS LONG) % 10000"
    )
    quota = None
    for stratum, frac in sorted(fractions.items()):
        cond = F.when(F.col(strata_col) == stratum, F.lit(int(frac * 10000)))
        quota = cond if quota is None else quota.when(
            F.col(strata_col) == stratum, F.lit(int(frac * 10000))
        )
    quota = (quota.otherwise(F.lit(0)) if quota is not None else F.lit(0))
    return df.withColumn("__bucket", bucket).filter(F.col("__bucket") < quota).drop(
        "__bucket"
    )


def stratified_sample_sql(
    table: str,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat",
) -> str:
    cases = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {int(f * 10000)}"
        for s, f in sorted(fractions.items())
    )
    return f"""
SELECT * FROM {table}
WHERE ('0x' || substring(md5('{salt}' || CAST({id_col} AS VARCHAR)), 1, 7))::BIGINT
      % 10000
      < (CASE {cases} ELSE 0 END)
"""


def weighted_systematic_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    k: int = 200,
    salt: str = "wsys",
    pick_col: str = "pick_no",
) -> DataFrame:
    """Deterministic sampling with probability proportional to an integer
    weight (systematic / Madow sampling): order rows by a stable
    pseudo-random key ``md5(salt || id)``, lay their weights end-to-end on
    a line of total length W, and keep every row whose weight span crosses
    one of ``k`` equally spaced thresholds — i.e. keep iff
    ``floor(cum*k/W) > floor((cum-w)*k/W)`` in exact BIGINT arithmetic.
    Token-budget subsampling for a training mixture: long documents are
    proportionally more likely to be kept, the expected kept-token count is
    W/k per pick, and reruns/repartitions cannot churn the sample (no RNG —
    same contract as :func:`stratified_sample`).

    Scale shape: the cumulative sum NEVER runs as one global window. Rows
    bucket by the key's leading two hex chars (bucket order = key order,
    same trick as ``global_order_positions``); within-bucket cumsums are
    256-way parallel, and the per-bucket offsets AND the grand total W ride
    a 256-row lattice broadcast back as an equi-join — one corpus shuffle
    total, no 1-row cross join. Exactness bound: ``cum * k`` must fit
    BIGINT, i.e. total-weight x k < 2^63 (a 1-PB-char corpus with k=1000
    is ~1e18 — inside the bound; beyond that, chunk the corpus first).

    Rows with weight <= 0 can never cross a threshold and are dropped
    up front. Returns input columns + ``pick_col`` (1-based threshold
    index; strictly increasing in key order).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    keyed = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__w", F.col(weight_col).cast("long"))
        .withColumn(
            "__k", F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
        )
        .withColumn("__b", F.substring("__k", 1, 2))
    )
    wb = (
        Window.partitionBy("__b")
        .orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sums = keyed.groupBy("__b").agg(F.sum("__w").alias("__c"))
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    wtot = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lattice = sums.select(
        "__b",
        F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        F.sum("__c").over(wtot).alias("__tot"),
    )
    # within-bucket cumsum BEFORE the lattice join: lattice shares lineage
    # with keyed (a self-join), so post-join references to keyed-only
    # columns would be ambiguous
    cumb = keyed.withColumn("__cumb", F.sum("__w").over(wb))
    scored = (
        cumb.join(F.broadcast(lattice), "__b")
        .withColumn("__cum", F.col("__off") + F.col("__cumb"))
        # integer floor-division keeps the threshold test exact where
        # double division would lose ulps past 2^53
        .withColumn("__hi", F.expr(f"(__cum * {k}) div __tot"))
        .withColumn("__lo", F.expr(f"((__cum - __w) * {k}) div __tot"))
    )
    return (
        scored.filter(F.col("__hi") > F.col("__lo"))
        .withColumn(pick_col, F.col("__lo") + F.lit(1))
        .drop("__w", "__k", "__b", "__cumb", "__off", "__tot", "__cum", "__hi", "__lo")
    )


def weighted_systematic_sample_sql(
    table: str,
    weight_col: str,
    id_col: str = "doc_id",
    k: int = 200,
    salt: str = "wsys",
    pick_col: str = "pick_no",
) -> str:
    """DuckDB twin: the single-window form of the same arithmetic (the
    oracle may afford a global window at sf0.01; the Spark side must not)."""
    return f"""
WITH keyed AS (
  SELECT *, CAST({weight_col} AS BIGINT) AS w,
         md5('{salt}' || CAST({id_col} AS VARCHAR)) AS k
  FROM {table} WHERE {weight_col} > 0),
cums AS (
  SELECT *, sum(w) OVER (ORDER BY k, {id_col} ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER () AS tot
  FROM keyed)
SELECT * EXCLUDE (w, k, cum, tot),
       CAST(((cum - w) * {k}) // tot + 1 AS BIGINT) AS {pick_col}
FROM cums WHERE (cum * {k}) // tot > ((cum - w) * {k}) // tot
"""


# --------------------------------------------------------------------------
# cluster assignment: pairs → connected components → canonical survivor
# --------------------------------------------------------------------------


class ConvergenceError(RuntimeError):
    """Min-label propagation did not reach a fixpoint within max_iter."""


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    strict: bool = False,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Each node's label converges to the minimum node id reachable from it —
    the canonical cluster id. Labels are SEEDED with
    ``min(node, min(neighbors))`` — one aggregate over the adjacency — so
    star-shaped near-dup clusters (the common case: many copies pointing at
    one canonical minimum) are already at the fixpoint before the loop and
    pay a single confirming round. Per round: one join of the undirected
    adjacency against current labels + a min-aggregate; the convergence
    check is the round's own update count (a filter over the just-
    checkpointed result — no separate verification join). Lineage is
    truncated with :func:`materialize` every round so the plan stays flat.
    Rounds needed ≈ graph diameter; for adversarially deep graphs use
    ``connected_components_star`` (O(log d) rounds) or ``algorithm="auto"``
    on :func:`dedup_cluster_assign`, which falls back to it automatically.

    The fixpoint is unique regardless of iteration count, so results are
    engine-reproducible (the DuckDB oracle computes the same labels via a
    recursive transitive-closure CTE).

    ``strict=True`` raises :class:`ConvergenceError` if the fixpoint is not
    reached within ``max_iter`` (labels would be an under-propagated
    intermediate state); the default returns the last iterate, matching the
    previous behavior.

    Output: (node, label).
    """
    # Materialize the one-directional edge list FIRST: the adjacency
    # union below references it twice in one job, so an expensive edge
    # pipeline (the LSH band join) would execute twice inside the adj
    # checkpoint (measured ~1 s of the cluster-assign entry at sf0.1,
    # r10 — same pathology as pagerank's edges_deg fan-out).
    a = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).transform(
        materialize
    )
    # Materialize the adjacency ONCE: every propagation round joins
    # against adj — without this, the union re-executes per round.
    adj = a.unionByName(
        a.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(materialize)
    # Seed: label = min(node, Γ(node)). F.first("a") is exact — "a" is the
    # grouping key. Covers every node (adj is bidirected).
    labels = (
        adj.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.first("a")).alias("label"))
        .transform(materialize)
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            adj.join(labels, adj.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .transform(materialize)
        )
        # Update count over the checkpointed result: the termination signal
        # costs one in-memory filter+count, not an extra labels⋈labels job.
        changed = stepped.filter(F.col("label") != F.col("old_label")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            converged = True
            break
    if strict and not converged:
        raise ConvergenceError(
            f"min-label propagation not at fixpoint after {max_iter} rounds"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    deep-graph upgrade over min-label propagation: converges in
    O(log d) rounds on diameter-d graphs instead of d, because every round
    rewires whole neighborhoods to their local minimum rather than moving
    labels one hop.

      * large-star: for each node u, every neighbor v > u re-attaches to
        m(u) = min(Γ(u) ∪ {u});
      * small-star: for each node u, the neighbors v ≤ u (and u itself)
        re-attach to their minimum.

    Both rounds are one groupBy + one join each — keyed shuffles only; the
    edge list is localCheckpointed per round (same lineage hygiene as
    ``connected_components``). Fixpoint: a star forest where every node
    points at its component minimum — returned as (node, label), identical
    to ``connected_components`` output (property-tested, including on a
    chain graph where propagation needs d rounds and this needs ~log d).

    Near-dup clusters are shallow, so the simple propagator stays the
    catalog default; this is the documented path for adversarially deep
    graphs at 100 TB scale.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .transform(materialize)
    )

    def large_star(cur: DataFrame) -> DataFrame:
        bidir = cur.unionByName(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = bidir.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        return (
            bidir.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # orient every edge high→low, group by the high endpoint
        hi_lo = cur.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = hi_lo.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        joined = hi_lo.join(mins, "a")
        # neighbors v (≤ u) re-attach to m, and u itself attaches to m
        nbrs = joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
        self_edge = joined.select(F.col("a"), F.col("m").alias("b")).distinct()
        return (
            nbrs.unionByName(self_edge)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    for _ in range(max_iter):
        nxt = small_star(large_star(e)).transform(materialize)
        if nxt.exceptAll(e).isEmpty() and e.exceptAll(nxt).isEmpty():
            e = nxt
            break
        e = nxt

    # fixpoint is a star forest: every non-root points at its component
    # minimum; roots (isolated after self-loop removal) label themselves.
    labels = e.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("label"))
    return (
        all_nodes.join(labels, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )


def dedup_cluster_assign(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    algorithm: str = "auto",
    auto_rounds: int = 6,
) -> DataFrame:
    """Full-corpus cluster assignment from a near-dup pair list.

    Every document gets a ``cluster_id`` (min doc id of its component;
    singletons cluster with themselves) and ``is_canonical`` marks the one
    survivor per cluster — the row a dedup pass keeps.

    ``algorithm`` selects the component solver — all return identical
    labels (property-tested, including on a deep chain graph):

      * ``"auto"`` (default): min-label propagation bounded to
        ``auto_rounds`` rounds; if the fixpoint isn't reached (deep
        graph), falls back to large-star/small-star. Shallow near-dup
        graphs — the overwhelmingly common shape — pay only the cheap
        seeded-propagation path (~1-2 rounds); adversarially deep graphs
        pay a bounded probe plus the O(log d) solver, never
        diameter-many rounds.
      * ``"propagation"``: min-label propagation, rounds = graph
        diameter. Each round is one join + min-agg — the cheapest shape
        when the graph is known shallow.
      * ``"star"``: alternating large-star/small-star (Kiveris et al.),
        O(log d) rounds — the scale path for adversarially deep graphs
        (e.g. chained templated spam at 100 TB, where diameter-many
        propagation rounds would dominate the job).
    """
    if algorithm == "auto":
        try:
            comp = connected_components(pairs, src, dst, max_iter=auto_rounds, strict=True)
        except ConvergenceError:
            comp = connected_components_star(pairs, src, dst)
    elif algorithm == "propagation":
        comp = connected_components(pairs, src, dst)
    elif algorithm == "star":
        comp = connected_components_star(pairs, src, dst)
    else:
        raise ValueError(
            f"unknown algorithm {algorithm!r}: use 'auto', 'propagation' or 'star'"
        )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def dedup_cluster_sql(
    pair_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle: transitive closure via recursive CTE → min reachable
    id per node; singletons fall back to their own id."""
    return f"""
WITH RECURSIVE
pairs AS ({pair_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs),
reach(node, r) AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a AS node, reach.r
  FROM edges e JOIN reach ON reach.node = e.b),
comp AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.{id_col} AS doc_id,
       coalesce(c.cluster_id, d.{id_col}) AS cluster_id,
       d.{id_col} = coalesce(c.cluster_id, d.{id_col}) AS is_canonical
FROM {table} d LEFT JOIN comp c ON d.{id_col} = c.node
"""


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------

SIMHASH_BITS = 32

# simhash bit b is set iff a strict majority of (distinct) token hashes have
# bit b set; ties → 0. Two-step API: project the 32-bit token-hash array
# once (token_hash32_expr), then reduce it to the signature
# (simhash_from_hashes) — keeps the md5 work evaluated a single time.


def token_hash32_expr(tok_col: str = "t") -> Column:
    """32-bit hashes of distinct tokens (the simhash input column)."""
    return F.expr(
        f"transform(array_distinct({tok_col}),"
        " tk -> CAST(conv(substring(md5(tk), 1, 8), 16, 10) AS LONG))"
    )


def token_hash32_sql(tok_col: str = "t") -> str:
    return (
        f"list_transform(list_distinct({tok_col}),"
        " tk -> ('0x' || substring(md5(tk), 1, 8))::BIGINT)"
    )


def simhash_from_hashes(hs_col: str = "hs32") -> Column:
    terms = [
        f"(CASE WHEN 2 * size(filter({hs_col}, h -> (shiftright(h, {b}) & 1) = 1))"
        f" > size({hs_col}) THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    ]
    return F.expr(" + ".join(terms))


def simhash_from_hashes_sql(hs_col: str = "hs32") -> str:
    terms = [
        f"(CASE WHEN 2 * len(list_filter({hs_col}, h -> ((h >> {b}) & 1) = 1))"
        f" > len({hs_col}) THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    ]
    return " + ".join(terms)


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded hamming join (exact).

    Signature = 32-bit simhash over word-n-gram shingle hashes (shingles,
    not tokens — single-token simhash degenerates on small vocabularies).
    Pigeonhole blocking: split the signature into ``max_hamming + 1``
    bands; two signatures within ``max_hamming`` bits MUST agree on at
    least one whole band, so the band equi-join loses no pairs. Candidates
    are verified with ``bit_count(a ^ b)`` — a two-instruction check, so
    the verification pass is join-bound, not compute-bound.

    Output: doc_a, doc_b (doc_a < doc_b), hamming ≤ max_hamming.
    """
    from pyspark import StorageLevel

    n_bands = max_hamming + 1
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    sigs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(F.col(text_col)), " +").alias("t"),
        )
        .filter(F.size("t") >= n)
        .repartition(F.col("doc_id"))
        .withColumn("hs", shingle_hash_expr("t", n))
        .select("doc_id", simhash_from_hashes("hs").alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = sigs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright("sh", b * band_bits).bitwiseAND(mask).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "sh", "bk.band_idx", "bk.band_val")
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("CAST(bit_count(a.sh ^ b.sh) AS BIGINT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_hamming: int = 3,
) -> str:
    n_bands = max_hamming + 1
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    band_list = ", ".join(str(b) for b in range(n_bands))
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, string_split_regex(lower({text_col}), ' +') AS t
  FROM {table}),
hashes AS (
  SELECT doc_id, {shingle_hash_sql('t', n)} AS hs
  FROM toks WHERE len(t) >= {n}),
sigs AS (
  SELECT doc_id, {simhash_from_hashes_sql('hs')} AS sh FROM hashes),
bands AS (
  SELECT doc_id, sh, b AS band_idx, (sh >> ({band_bits} * b)) & {mask} AS band_val
  FROM sigs, (SELECT unnest([{band_list}]) AS b))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sh, b.sh)::BIT) AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)::BIT) <= {max_hamming}
"""


# --------------------------------------------------------------------------
# blocked n-gram jaccard
# --------------------------------------------------------------------------


def _with_shingle_df(expl: DataFrame) -> DataFrame:
    """Attach each exploded shingle row's global document frequency ``df``.

    A count window partitioned by the shingle hash: one pass over the
    exploded rows, where groupBy+join-back evaluated the explode twice
    (r11 A/B: dedup_ngram_jaccard 0.82×, allpairs a wash;
    OPTIMIZATION_r11.md). count() over an unordered window is the exact
    groupBy count, so the oracle's GROUP BY twin matches bitwise.

    Hot-shingle caveat at 100 TB: the window shuffles full exploded rows
    by h with no map-side partial aggregation, and AQE cannot split a
    skewed window partition (guide §2.5).
    """
    return expl.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    bucket_width: int = 50,
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """N-gram (shingle-set) jaccard over pairs blocked by length bucket (±1).

    Similarity is over distinct word-3-gram hashes (28-bit longs), not
    single tokens: the shingle space is |vocab|^n, so the measure stays
    discriminative on small-vocabulary corpora, and long-array intersects
    are far cheaper than string-array intersects in the verification loop.

    Plan shape:
      * ±1 bucket probe expanded map-side into three equi-join keys — a
        plain hash join instead of a range join; shuffle keyed by bucket.
      * Each (a, b) pair matches exactly one probe delta, so there is no
        DISTINCT (and no second shuffle) after the join.
      * Lossless size-ratio prefilter: jaccard ≥ t forces
        min(|A|,|B|) ≥ t·max(|A|,|B|) — an integer compare that skips the
        intersect for hopeless pairs.
      * |A∪B| = |A|+|B|−|A∩B|: one array_intersect per surviving pair.
      * ``base`` is persisted (feeds both join sides; see
        minhash_near_dup_pairs for the re-inlining pathology).

    Input contract (dup-safety): rows sharing a ``doc_id`` MUST carry
    identical ``text``. The pair aggregation collapses candidates with a
    min() barrier keyed on (doc_a, doc_b); duplicated ids with DIFFERING
    text are undefined behavior — min(intersection) and min(size-sum) can
    then combine values from different copies, emitting a jaccard that
    matches no actual pair (silently, not loudly). Callers with
    conflicting duplicate ids must dedup or re-key first.
    """
    from pyspark import StorageLevel

    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(F.col(text_col)), " +").alias("t"),
            (F.col(len_col).cast("long") / bucket_width).cast("long").alias("bucket"),
        )
        .filter(F.size("t") >= n)
        # Spread BEFORE the shingle-hash projection (see
        # minhash_near_dup_pairs) so the pairwise work parallelizes
        # across this side's partitions.
        .repartition(F.col("doc_id"))
        .select("doc_id", "bucket", shingle_hash_expr("t", n).alias("hs"))
        .withColumn("sz", F.size("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Candidate generation: the naive ±1 bucket self-join is quadratic per
    # length bucket — ~12 distinct buckets at sf0.1 means capped, skewed
    # parallelism and candidate counts that grow n² with corpus size
    # (measured 91 s at sf≈1). Instead, candidates come from the AllPairs
    # rarest-shingle prefix join (lossless for jaccard ≥ t — pigeonhole on
    # the ⌈(1-t)·|A|⌉+1 rarest shingles; see allpairs_jaccard_pairs), with
    # the ±1 bucket rule and size ratio applied as cheap filters. The
    # blocked SEMANTIC is unchanged (only ±1-bucket pairs are emitted, the
    # oracle stays the blocked brute force); only the candidate set
    # shrinks. Rare shingles give tiny join buckets, so the shuffle is
    # keyed and skew-free.
    # No broadcast hints anywhere below: the shingle-frequency table is
    # vocabulary-sized and the doc-array dim is corpus-sized — both grow
    # with input, so a forced broadcast OOMs at scale. AQE picks broadcast
    # at small SF on its own (runtime size), and falls back to a shuffled
    # hash join when the build side is big; tests/test_plan_shape.py pins
    # that the large-estimate form is NOT a broadcast.
    expl = base.select("doc_id", "bucket", "sz", F.explode("hs").alias("h"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix = (
        _with_shingle_df(expl)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.ceil(F.lit(1.0 - threshold) * F.col("sz")) + 1)
        .select("doc_id", "h", "sz", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.abs(F.col("a.bucket") - F.col("b.bucket")) <= 1)
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .distinct()
    )
    # Array fetch: keyed joins on doc id — arrays move once per surviving
    # pair, never through the bucket join. Join strategy is AQE's call:
    # broadcast while the doc dimension is small, shuffled hash join at
    # scale (the dim grows with the corpus, so no forced broadcast).
    arrays = base.select("doc_id", "hs")
    inter = F.size(F.array_intersect(F.col("hsa"), F.col("hsb")))
    return (
        cand.join(
            arrays.select(
                F.col("doc_id").alias("doc_a"), F.col("hs").alias("hsa")
            ),
            "doc_a",
        )
        .join(
            arrays.select(
                F.col("doc_id").alias("doc_b"), F.col("hs").alias("hsb")
            ),
            "doc_b",
        )
        # aggregate barrier, not a projection: the tie template references
        # its integer inputs several times and the threshold filter
        # inlines the whole expression — through a bare Project that
        # re-evaluates the shingle intersection per reference (measured
        # 1.9 -> 8.6 s at sf0.1). The counts must be AGG FUNCTIONS (min),
        # not grouping keys: a filter on grouping keys is pushable below
        # the aggregate, and Catalyst then evaluates the whole template
        # as a join residual per joined row (measured 1.9 -> 11.6 s).
        # min() outputs are unpushable, so the intersection runs ONCE per
        # row map-side; identical duplicate copies (the operator's
        # dup-safety contract) make min() exact, and count(*) + the
        # sequence explode restore the oracle's join-multiplied multiset
        # (duplicated-rows parity fixture).
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min(inter).alias("inter"),
            F.min(F.col("sza") + F.col("szb")).alias("szsum"),
            F.count(F.lit(1)).alias("m"),
        )
        .select(
            "doc_a",
            "doc_b",
            round_div("inter", "szsum - inter", 4).alias("jaccard"),
            "m",
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("_i", F.explode(F.expr("sequence(1, m)")))
        .select("doc_a", "doc_b", "jaccard")
    )


def allpairs_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT all-pairs shingle-set jaccard ≥ threshold via AllPairs prefix
    filtering (Bayardo et al., WWW'07 family) — no blocking caveat: every
    qualifying pair in the corpus is found.

    Pruning logic: order the shingle universe by ascending global document
    frequency; a doc's *prefix* is its ``⌈(1-t)·|A|⌉+1`` rarest shingles.
    Any pair with jaccard ≥ t has overlap ≥ t·max(|A|,|B|), so the two
    prefixes must intersect (pigeonhole) — pairs sharing NO prefix shingle
    are skipped without scoring. Because prefixes are the *rarest*
    shingles, the equi-join on shingle produces tiny buckets (measured
    3.5M → 110k candidates vs ±1 length-bucket blocking at sf0.1).

    Plan: one groupBy for global frequencies (map-combined), one window
    per doc for the prefix rank, one equi-join on shingle for candidates,
    keyed verification joins (strategy left to AQE: broadcast at small
    SF, shuffled hash at scale). All shuffles are keyed; nothing is
    quadratic except verified candidates.

    Input contract (dup-safety): rows sharing a ``doc_id`` MUST carry
    identical ``text`` — the min() pair-aggregation barrier assumes every
    duplicate of a pair scores the same sets; duplicated ids with
    differing text silently emit a jaccard matching no actual pair (see
    ngram_jaccard_pairs for the full statement).
    """
    from pyspark import StorageLevel

    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.lower(F.col(text_col)), " +").alias("t"),
        )
        .filter(F.size("t") >= n)
        .repartition(F.col("doc_id"))
        .select("doc_id", shingle_hash_expr("t", n).alias("hs"))
        .withColumn("sz", F.size("hs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Unhinted joins throughout (same reasoning as ngram_jaccard_pairs):
    # the frequency table and doc-array dim scale with the corpus, so the
    # planner must stay free to pick a shuffled hash join at scale.
    expl = base.select("doc_id", "sz", F.explode("hs").alias("h"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix = (
        _with_shingle_df(expl)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.ceil(F.lit(1.0 - threshold) * F.col("sz")) + 1)
        .select("doc_id", "h", "sz")
        # Feeds both sides of the candidate self-join; persist so the
        # frequency groupBy + ranking window run once, not twice.
        # (persist, not localCheckpoint: two EAGER checkpoints serialize
        # into separate jobs and measured ~0.7 s slower here, r10 — the
        # lazy persist lets base/prefix/verify stages overlap in one job.)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("ha.hs"), F.col("hb.hs")))
    return (
        cand.join(base.alias("ha"), F.col("doc_a") == F.col("ha.doc_id"))
        .join(base.alias("hb"), F.col("doc_b") == F.col("hb.doc_id"))
        # aggregate barrier — same reasoning as ngram_jaccard_pairs: one
        # intersection per row via min() AGG outputs (grouping keys would
        # let the threshold filter push below the aggregate into the join
        # residual), count+explode restores duplicate-id multiplicity.
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min(inter).alias("inter"),
            F.min(F.col("ha.sz") + F.col("hb.sz")).alias("szsum"),
            F.count(F.lit(1)).alias("m"),
        )
        .select(
            "doc_a",
            "doc_b",
            round_div("inter", "szsum - inter", 4).alias("jaccard"),
            "m",
        )
        .filter(F.col("jaccard") >= threshold)
        .withColumn("_i", F.explode(F.expr("sequence(1, m)")))
        .select("doc_a", "doc_b", "jaccard")
    )


def allpairs_jaccard_sql_brute(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> str:
    """Brute-force all-pairs twin with only the lossless size-ratio
    prefilter — exactly the operator's declared semantics with NO shared
    candidate logic. Quadratic, so it is the small-SF proof that the
    prefix filter loses nothing (tests/test_oracle_linearization.py pins
    brute == linearized in DuckDB itself); the catalog oracle is the
    linearized twin below, which the sf1 sweep can afford."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, string_split_regex(lower({text_col}), ' +') AS t
  FROM {table}),
base AS (
  SELECT doc_id, {shingle_hash_sql('t', n)} AS hs
  FROM toks WHERE len(t) >= {n}),
sized AS (SELECT doc_id, hs, len(hs) AS sz FROM base),
counted AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.hs, b.hs)) AS inter,
         a.sz + b.sz AS szsum
  FROM sized a JOIN sized b
    ON a.doc_id < b.doc_id
   AND least(a.sz, b.sz) >= {threshold} * greatest(a.sz, b.sz)),
pairs AS (
  SELECT doc_a, doc_b, {oracle_round_div('inter', 'szsum - inter', 4)} AS jaccard
  FROM counted)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


def allpairs_jaccard_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> str:
    """Oracle: the LINEARIZED twin — same lossless AllPairs rarest-prefix
    candidate generation as the Spark plan (pigeonhole on the
    ``⌈(1-t)·|A|⌉+1`` rarest shingles; see allpairs_jaccard_pairs), so the
    sf1 strict sweep runs in seconds instead of CPU-hours (VERDICT r05
    #1). Losslessness of the shared pruning is proven independently:
    tests/test_oracle_linearization.py asserts this twin ==
    allpairs_jaccard_sql_brute in DuckDB at sf0.01."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, string_split_regex(lower({text_col}), ' +') AS t
  FROM {table}),
base AS (
  SELECT doc_id, {shingle_hash_sql('t', n)} AS hs
  FROM toks WHERE len(t) >= {n}),
sized AS (SELECT doc_id, hs, len(hs) AS sz FROM base),
expl AS (SELECT doc_id, sz, unnest(hs) AS h FROM sized),
freq AS (SELECT h, count(*) AS df FROM expl GROUP BY h),
prefix AS (
  SELECT doc_id, h, sz FROM (
    SELECT e.doc_id, e.h, e.sz,
           row_number() OVER (PARTITION BY e.doc_id
                              ORDER BY f.df ASC, e.h ASC) AS rn
    FROM expl e JOIN freq f ON e.h = f.h)
  WHERE rn <= ceil((1.0 - {threshold}) * sz) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE least(a.sz, b.sz) >= {threshold} * greatest(a.sz, b.sz)),
counted AS MATERIALIZED (
  SELECT doc_a, doc_b,
         len(list_intersect(ha.hs, hb.hs)) AS inter,
         ha.sz + hb.sz AS szsum
  FROM cand
  JOIN sized ha ON ha.doc_id = doc_a
  JOIN sized hb ON hb.doc_id = doc_b),
pairs AS (
  SELECT doc_a, doc_b, {oracle_round_div('inter', 'szsum - inter', 4)} AS jaccard
  FROM counted)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


def ngram_jaccard_sql_brute(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    bucket_width: int = 50,
    n: int = 3,
    threshold: float = 0.7,
) -> str:
    """Blocked brute-force twin (±1 length-bucket self-join, no shared
    candidate logic) — quadratic per bucket; kept as the small-SF proof
    that the linearized twin below drops nothing
    (tests/test_oracle_linearization.py)."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         string_split_regex(lower({text_col}), ' +') AS t,
         CAST(floor({len_col}::DOUBLE / {bucket_width}) AS BIGINT) AS bucket
  FROM {table}),
base AS (
  SELECT doc_id, bucket, {shingle_hash_sql('t', n)} AS hs
  FROM toks WHERE len(t) >= {n}),
sized AS (
  SELECT doc_id, bucket, hs, len(hs) AS sz FROM base),
probes AS (
  SELECT doc_id, hs, sz, bucket + d AS bucket
  FROM sized, (SELECT unnest([-1, 0, 1]) AS d)),
counted AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.hs, b.hs)) AS inter,
         a.sz + b.sz AS szsum
  FROM sized a JOIN probes b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  WHERE least(a.sz, b.sz) >= {threshold} * greatest(a.sz, b.sz)),
pairs AS (
  SELECT doc_a, doc_b, {oracle_round_div('inter', 'szsum - inter', 4)} AS jaccard
  FROM counted)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""


def ngram_jaccard_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    bucket_width: int = 50,
    n: int = 3,
    threshold: float = 0.7,
) -> str:
    """Oracle: LINEARIZED twin — candidates from the rarest-prefix join
    (lossless, see allpairs_jaccard_sql) with the ±1-bucket rule and size
    ratio as filters, mirroring the Spark plan's candidate generation so
    the sf1 sweep is affordable (VERDICT r05 #1). Brute == linearized is
    pinned in DuckDB at sf0.01 by tests/test_oracle_linearization.py."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         string_split_regex(lower({text_col}), ' +') AS t,
         CAST(floor({len_col}::DOUBLE / {bucket_width}) AS BIGINT) AS bucket
  FROM {table}),
base AS (
  SELECT doc_id, bucket, {shingle_hash_sql('t', n)} AS hs
  FROM toks WHERE len(t) >= {n}),
sized AS (
  SELECT doc_id, bucket, hs, len(hs) AS sz FROM base),
expl AS (SELECT doc_id, bucket, sz, unnest(hs) AS h FROM sized),
freq AS (SELECT h, count(*) AS df FROM expl GROUP BY h),
prefix AS (
  SELECT doc_id, h, sz, bucket FROM (
    SELECT e.doc_id, e.h, e.sz, e.bucket,
           row_number() OVER (PARTITION BY e.doc_id
                              ORDER BY f.df ASC, e.h ASC) AS rn
    FROM expl e JOIN freq f ON e.h = f.h)
  WHERE rn <= ceil((1.0 - {threshold}) * sz) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE abs(a.bucket - b.bucket) <= 1
    AND least(a.sz, b.sz) >= {threshold} * greatest(a.sz, b.sz)),
counted AS MATERIALIZED (
  SELECT doc_a, doc_b,
         len(list_intersect(ha.hs, hb.hs)) AS inter,
         ha.sz + hb.sz AS szsum
  FROM cand
  JOIN sized ha ON ha.doc_id = doc_a
  JOIN sized hb ON hb.doc_id = doc_b),
pairs AS (
  SELECT doc_a, doc_b, {oracle_round_div('inter', 'szsum - inter', 4)} AS jaccard
  FROM counted)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
"""
