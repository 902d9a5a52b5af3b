"""Second wave of corpus-curation queries: segment-level duplication
accounting, per-domain caps, unigram LM scoring, embedding-norm outlier
detection, incremental (new-batch-vs-corpus) near-dup screening, and
frequent-n-gram mining.

These are the curation steps a C4/RefinedWeb-style pretraining pass runs
AFTER document-level dedup: measure how much of each document is made of
corpus-repeated spans, cap any single domain's contribution, score docs
under a corpus unigram LM, flag embedding outliers before ANN indexing,
screen an incoming crawl increment against the existing corpus, and mine
the corpus's most frequent n-grams (boilerplate detection). Every query is
pure Catalyst expressions with a DuckDB oracle twin.

Cross-engine determinism (extends the plans/base.py policy):
  * per-document and per-group sums are computed over INTEGER-QUANTIZED
    values (``floor(x * 10^k)`` as BIGINT), so aggregation order cannot
    drift the result — only the per-VALUE quantization touches floats,
    and those are elementwise-identical doubles on both engines;
  * the single transcendental (``ln`` in the unigram LM) is evaluated
    once per DISTINCT TERM (vocabulary-sized, not corpus-sized) before
    quantization, so the ulp-boundary risk surface is a few dozen values,
    not millions (cf. the tfidf query, which avoids logs entirely).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.rounding import (
    oracle_quantize_double,
    oracle_round_div,
    quantize_domain_guard,
    quantize_double,
    round_div,
)
from ..operators.relational import topk_per_group
from ..operators.similarity import (
    _fold_sum_duck,
    _fold_sum_spark,
    dot_sql,
    finite_vec_pred,
    finite_vec_sql,
    vec_double_col,
)
from .base import Q, assert_id_domain, spread, t
from .corpus_queries import EMB_DIM, ID_CAP

#: Fixed word-window segment width for span-level duplication accounting.
#: Non-overlapping (stride == width): the RefinedWeb/C4 "repeated span"
#: bookkeeping unit. 10 tokens is small enough that near-dup documents
#: share segments, large enough that chance collisions are negligible.
SEG_TOKENS = 10

#: Per-domain document cap (domain_cap_sample).
DOMAIN_CAP = 10
DOMAIN_CAP_SALT = "cap1:"

#: Incremental-ingest split: doc_id % INC_MOD == 0 plays the "incoming
#: batch"; the rest is the already-curated base corpus.
INC_MOD = 5

#: Heavy-hitter n-gram mining: n-gram width and result size.
HH_N = 3
HH_TOP = 25


def _segments(docs: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(key_col, h): md5 of each non-overlapping SEG_TOKENS-word window.

    Entirely map-side (split + sequence + explode + slice inside codegen);
    the trailing partial window is kept, mirroring the oracle. The key is
    parameterized so every consumer (per-doc span accounting AND the
    per-source dup matrix) shares ONE segment-encoding definition — a
    tokenization tweak cannot silently change what "shared segment"
    means in only one of them.
    """
    toks = docs.select(
        key_col, F.split(F.lower("text"), " +").alias("tk")
    ).withColumn("n", F.size("tk"))
    return toks.select(
        key_col,
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(SEG_TOKENS))
        ).alias("s"),
        "tk",
    ).select(
        key_col,
        F.md5(
            F.array_join(F.slice("tk", F.col("s") + 1, F.lit(SEG_TOKENS)), " ")
        ).alias("h"),
    )


def _segments_sql(key_col: str = "doc_id") -> str:
    return f"""
  SELECT {key_col},
         md5(list_aggregate(list_slice(tk, s + 1, s + {SEG_TOKENS}),
                            'string_agg', ' ')) AS h
  FROM (SELECT {key_col}, tk, unnest(generate_series(0, n - 1, {SEG_TOKENS})) AS s
        FROM (SELECT {key_col}, string_split_regex(lower(text), ' +') AS tk,
                     len(string_split_regex(lower(text), ' +')) AS n
              FROM documents))
"""


_SEGMENTS_SQL = _segments_sql()


# -- segment-level duplication fraction ------------------------------------
def q_segment_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of SEG_TOKENS-word segments that also occur
    in at least one OTHER document — the span-level duplication signal
    C4/RefinedWeb-style pipelines threshold on after document-level dedup
    (a doc that survives near-dup screening can still be 60% boilerplate).

    Shape: map-side segmenting, one map-combined groupBy collapsing to
    (doc, hash, cnt), the cross-doc count as a window over the hash key
    on that collapsed relation, then the per-doc rollup — no joins, no
    broadcast of anything corpus-sized. 100 TB: the segment-hash reduce
    key space is ~corpus_tokens/10, fully hash-partitioned; a hot
    boilerplate hash puts at most |docs| collapsed rows in one window
    partition (count-only). The dup fraction is a ratio of exact integer
    counts, so both engines emit bit-identical doubles before rounding.
    """
    from pyspark.sql import Window

    segs = _segments(spread(t(spark, sf_dir, "documents")))
    per_dh = segs.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    # n_docs as a window over the COLLAPSED (doc, h) relation — the
    # aggregate+join-back form shuffles per_dh twice and recomputes the
    # segmenting map stage per consumer (collapse-first rule, see
    # substring_dup_spans).
    with_nd = per_dh.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        with_nd.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_segments"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("c")).otherwise(0)).alias(
                "dup_segments"
            ),
        )
        .select(
            "doc_id",
            "n_segments",
            "dup_segments",
            round_div("dup_segments", "n_segments", 6).alias("dup_fraction"),
        )
    )


_SEGMENT_DUP_SQL = f"""
WITH segs AS ({_SEGMENTS_SQL}),
per_dh AS (SELECT doc_id, h, count(*) AS c FROM segs GROUP BY doc_id, h),
per_h AS (SELECT h, count(*) AS n_docs FROM per_dh GROUP BY h),
roll AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_segments,
         CAST(sum(CASE WHEN n_docs > 1 THEN c ELSE 0 END) AS BIGINT)
           AS dup_segments
  FROM per_dh JOIN per_h USING (h) GROUP BY doc_id)
SELECT doc_id, n_segments, dup_segments,
       {oracle_round_div('dup_segments', 'n_segments', 6)} AS dup_fraction
FROM roll
"""


# -- per-domain contribution cap -------------------------------------------
def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most DOMAIN_CAP documents per source domain, chosen by the
    deterministic pseudo-random order md5(salt || doc_id) — the anti-
    monoculture cap web-corpus curation applies so no single domain
    dominates the mixture. Rerun-stable and engine-reproducible: the kept
    set is a pure function of (salt, doc_id), like stratified_sample.

    Shape: one hash shuffle on source + a per-domain top-k window.
    100 TB: a mega-domain makes a hot window partition; the fix at scale
    is the same two-phase trick as ``global_order_positions`` (per-task
    partial top-k then a final per-domain merge, which AQE's skew-join
    splitting approximates); the semantic — smallest-k-by-hash — is
    merge-compatible, so the operator parallelizes without semantic
    change. This catalog entry keeps the direct window form.
    """
    docs = t(spark, sf_dir, "documents")
    hashed = docs.select(
        "source",
        "doc_id",
        F.md5(
            F.concat(F.lit(DOMAIN_CAP_SALT), F.col("doc_id").cast("string"))
        ).alias("hk"),
    )
    kept = topk_per_group(
        hashed,
        ["source"],
        [F.col("hk").asc(), F.col("doc_id").asc()],
        DOMAIN_CAP,
        rank_col="rk",
    )
    return kept.select("source", "doc_id", "rk")


_DOMAIN_CAP_SQL = f"""
WITH hashed AS (
  SELECT source, doc_id,
         md5('{DOMAIN_CAP_SALT}' || CAST(doc_id AS VARCHAR)) AS hk
  FROM documents),
ranked AS (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY hk ASC, doc_id ASC) AS INT) AS rk
  FROM hashed)
SELECT source, doc_id, rk FROM ranked WHERE rk <= {DOMAIN_CAP}
"""


# -- unigram LM log-probability score --------------------------------------
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average per-token log-probability of each document under the
    corpus's own unigram LM — the classic cheap perplexity proxy used as
    a quality filter (very low = gibberish/OCR noise, very high =
    degenerate repetition of common tokens).

    Two passes expressed as one plan: token counts per (doc, term), global
    term counts, and the corpus total N flowing through as a 1-row
    broadcast aggregate (same in-flow pattern as tfidf — no driver-side
    count, one job). ln(c/N) is evaluated per DISTINCT term (vocabulary-
    sized) and immediately quantized to integer micro-nats
    (``floor(ln(p) * 1e6)``); the per-doc score is then an exact BIGINT
    dot product, so summation order cannot drift the result across
    engines. 100 TB: explode -> two map-combinable groupBys + one
    term-keyed join; the term dimension is vocabulary-sized, but it is
    NOT hint-broadcast — AQE picks the strategy from measured size.
    """
    docs = spread(t(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " +")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cnt = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    # N is derived from cnt, not from a second corpus scan: both consumers
    # share cnt's shuffle subtree, so Catalyst reuses the exchange and
    # `documents` is read ONCE (plan-pinned in test_plan_shape.py).
    n_total = cnt.agg(F.sum("c").cast("double").alias("n_total"))
    lp = cnt.join(F.broadcast(n_total)).select(
        "term",
        F.floor(F.log(F.col("c").cast("double") / F.col("n_total")) * 1e6)
        .cast("long")
        .alias("lp_micro"),
    )
    # Final 6dp quantization happens in EXACT integer space: score_micro /
    # n_tokens can land on a true half (x.xxxxxx5), where round-on-a-raw-
    # double-division splits across engines (the sf10 sweep caught
    # -8.1276605 rounding to -8.127661 in Spark vs -8.12766 in DuckDB —
    # round 7). Integer half-away-from-zero division reproduces Spark's
    # HALF_UP tie semantics exactly, and the only float op left is one
    # identical division by 1e6.
    r_abs = F.expr("(2 * abs(score_micro) + n_tokens) div (2 * n_tokens)")
    return (
        tf.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lp_micro")).alias("score_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.when(F.col("score_micro") < 0, -r_abs).otherwise(r_abs) / 1e6
            ).alias("avg_logprob"),
        )
    )


_UNIGRAM_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), ' +')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
n AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM cnt),
lp AS (
  SELECT term,
         CAST(floor(ln(CAST(c AS DOUBLE) / (SELECT n_total FROM n)) * 1e6)
              AS BIGINT) AS lp_micro
  FROM cnt),
roll AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * lp_micro) AS BIGINT) AS score_micro
  FROM tf JOIN lp USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens,
       (CASE WHEN score_micro < 0
             THEN -((2 * abs(score_micro) + n_tokens) // (2 * n_tokens))
             ELSE  ((2 * abs(score_micro) + n_tokens) // (2 * n_tokens))
        END) / 1e6 AS avg_logprob
FROM roll
"""


# -- embedding-norm outlier report -----------------------------------------
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics with a 2-sigma outlier count — the
    sanity pass run on an embedding table before ANN indexing (zero/huge
    norms break cosine geometry; a label whose norms spread wildly usually
    means a broken encoder batch).

    Norms come from the shared deterministic sequential fold, then are
    integer-quantized (micro for the mean, milli for the second moment) so
    every aggregate is an exact BIGINT sum: mean, std, and the 2-sigma
    threshold are bit-identical doubles on both engines, making the
    outlier COUNT itself deterministic — no float-boundary flakiness.
    Shape: scan -> map-combinable groupBy (label cardinality is bounded),
    a label-keyed join of the tiny stats row back onto the scan, and a
    second bounded groupBy. 100 TB: two corpus passes over a cached
    scan-scaling plan; the stats side is label-sized, joined without a
    hint (AQE will broadcast it).
    """
    emb = spread(t(spark, sf_dir, "embeddings"), key="vec_id")
    norm = F.expr(
        f"sqrt({_fold_sum_spark('transform(v, x -> x * x)')})"
    )
    # finite-component ingestion (finite_vec_pred, no dim requirement —
    # a norm is well-defined at any length), oracle-mirrored:
    # floor(NaN-norm * 1e6) is an ANSI CAST_OVERFLOW abort, and a NaN
    # norm poisons the z-threshold differently per engine.
    scaled = emb.filter(finite_vec_pred("embedding")).select(
        "vec_id", "label", vec_double_col("embedding").alias("v")
    ).select(
        "vec_id",
        "label",
        F.floor(norm * 1e6).cast("long").alias("nu"),
        F.floor(norm * 1e3).cast("long").alias("nm"),
    )
    stats = (
        scaled.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nu").alias("su"),
            F.sum(F.col("nm") * F.col("nm")).alias("sq"),
        )
        .select(
            "label",
            "n",
            "su",
            (F.col("su").cast("double") / 1e6 / F.col("n")).alias("mean"),
            F.sqrt(
                F.greatest(
                    F.col("sq").cast("double") / 1e6 / F.col("n")
                    - (F.col("su").cast("double") / 1e6 / F.col("n"))
                    * (F.col("su").cast("double") / 1e6 / F.col("n")),
                    F.lit(0.0),
                )
            ).alias("std"),
        )
    )
    outl = (
        scaled.join(stats, "label")
        .filter(
            F.abs(F.col("nm") / 1e3 - F.col("mean")) > 2 * F.col("std")
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    # reported mean = su/(1e6·n) through exact round_div; std via guarded
    # engine-identical quantize on the NAMED column (tie-margin audit,
    # final batch — same treatment as event_value_outliers).
    return (
        stats.join(outl, "label", "left")
        .select(
            "label",
            "n",
            round_div("su", "1000000 * n", 6).alias("avg_norm"),
            quantize_double(quantize_domain_guard("std", 6), 6).alias(
                "std_norm"
            ),
            F.coalesce("n_outliers", F.lit(0).cast("long")).alias("n_outliers"),
        )
    )


_NORM_OUTLIER_SQL = f"""
WITH s AS (
  SELECT vec_id, label,
         CAST(floor(sqrt({_fold_sum_duck("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")}) * 1e6) AS BIGINT) AS nu,
         CAST(floor(sqrt({_fold_sum_duck("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")}) * 1e3) AS BIGINT) AS nm
  FROM embeddings WHERE {finite_vec_sql('embedding')}),
st AS (
  SELECT label, count(*) AS n, CAST(sum(nu) AS BIGINT) AS sui,
         CAST(sum(nu) AS DOUBLE) AS su, CAST(sum(nm * nm) AS DOUBLE) AS sq
  FROM s GROUP BY label),
st2 AS (
  SELECT label, n, sui, su / 1e6 / n AS mean,
         sqrt(greatest(sq / 1e6 / n - (su / 1e6 / n) * (su / 1e6 / n), 0.0))
           AS std
  FROM st),
o AS (
  SELECT s.label, count(*) AS n_outliers
  FROM s JOIN st2 USING (label)
  WHERE abs(nm / 1e3 - mean) > 2 * std
  GROUP BY s.label)
SELECT label, n,
       {oracle_round_div('sui', '1000000 * n', 6)} AS avg_norm,
       {oracle_quantize_double(quantize_domain_guard('std', 6), 6)} AS std_norm,
       CAST(coalesce(n_outliers, 0) AS BIGINT) AS n_outliers
FROM st2 LEFT JOIN o USING (label)
"""


# -- incremental near-dup screening ----------------------------------------
def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen an incoming document batch against the EXISTING corpus by
    shared SEG_TOKENS-word segments — the incremental-ingest form of
    near-dup detection (a fresh crawl epoch is checked against the curated
    corpus, not against itself). Incoming = doc_id % INC_MOD == 0; base =
    the rest. Per incoming doc: segment count, how many of its segments
    already occur in the base, the overlap fraction, and the smallest
    matching base doc_id (NULL = genuinely novel).

    Shape: one map-side segmenting pass, the base side reduced to one row
    per distinct segment hash (min doc_id — map-combinable), then a
    hash-keyed LEFT join and a per-doc rollup. 100 TB: this is the shape
    that beats re-running all-pairs dedup on every ingest — the base
    segment index is corpus-sized but REUSABLE (in production it would be
    a bucketed table keyed on h, making the join shuffle-free on the base
    side); the incoming side is batch-sized. No broadcast hints: AQE
    broadcasts the incoming side when it is small enough, which is
    exactly the right direction at scale.
    """
    segs = _segments(spread(t(spark, sf_dir, "documents")))
    base = (
        segs.filter(F.col("doc_id") % INC_MOD != 0)
        .groupBy("h")
        .agg(F.min("doc_id").alias("base_doc"))
    )
    inc = (
        segs.filter(F.col("doc_id") % INC_MOD == 0)
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inc.join(base, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_segments"),
            F.sum(
                F.when(F.col("base_doc").isNotNull(), F.col("c")).otherwise(0)
            ).alias("n_overlap"),
            F.min("base_doc").alias("first_base_doc"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_overlap",
            # integer ratio -> exact 6-dp quantization (tie-margin batch)
            round_div("n_overlap", "n_segments", 6).alias("overlap_fraction"),
            "first_base_doc",
        )
    )


_INCREMENTAL_SQL = f"""
WITH segs AS ({_SEGMENTS_SQL}),
base AS (
  SELECT h, min(doc_id) AS base_doc FROM segs
  WHERE doc_id % {INC_MOD} <> 0 GROUP BY h),
inc AS (
  SELECT doc_id, h, count(*) AS c FROM segs
  WHERE doc_id % {INC_MOD} = 0 GROUP BY doc_id, h),
roll AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_segments,
         CAST(sum(CASE WHEN base_doc IS NOT NULL THEN c ELSE 0 END) AS BIGINT)
           AS n_overlap,
         min(base_doc) AS first_base_doc
  FROM inc LEFT JOIN base USING (h) GROUP BY doc_id)
SELECT doc_id, n_segments, n_overlap,
       {oracle_round_div('n_overlap', 'n_segments', 6)} AS overlap_fraction,
       first_base_doc
FROM roll
"""


# -- heavy-hitter n-grams --------------------------------------------------
def q_heavy_hitter_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top HH_TOP most frequent word HH_N-grams across the corpus — the
    boilerplate/template detector (cookie banners, nav bars, license
    headers surface here long before any per-document signal fires).

    Shape: map-side n-gram explode -> one map-combinable count -> global
    top-k via TakeOrderedAndProject (count desc, ngram asc — a total
    order, so the cut is deterministic); no full sort materializes.
    100 TB: identical — frequent n-grams are exactly the keys partial
    aggregation compresses best, and top-k merges per-partition heaps on
    the driver with k-bounded memory.
    """
    docs = spread(t(spark, sf_dir, "documents"))
    toks = docs.select(
        F.split(F.lower("text"), " +").alias("tk")
    ).withColumn("n", F.size("tk"))
    grams = toks.filter(F.col("n") >= HH_N).select(
        F.explode(
            F.sequence(F.lit(0), F.col("n") - HH_N, F.lit(1))
        ).alias("i"),
        "tk",
    ).select(
        F.array_join(F.slice("tk", F.col("i") + 1, F.lit(HH_N)), " ").alias(
            "ngram"
        )
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("ngram").asc())
        .limit(HH_TOP)
    )


_HEAVY_HITTER_SQL = f"""
WITH toks AS (
  SELECT string_split_regex(lower(text), ' +') AS tk,
         len(string_split_regex(lower(text), ' +')) AS n
  FROM documents),
grams AS (
  SELECT list_aggregate(list_slice(tk, i + 1, i + {HH_N}), 'string_agg', ' ')
           AS ngram
  FROM (SELECT tk, unnest(generate_series(0, n - {HH_N}, 1)) AS i
        FROM toks WHERE n >= {HH_N}))
SELECT ngram, count(*) AS c FROM grams
GROUP BY ngram ORDER BY c DESC, ngram ASC LIMIT {HH_TOP}
"""


# -- semantic (embedding-space) decontamination ----------------------------
#: Cosine threshold above which a corpus vector counts as contaminated by
#: the benchmark set. Label 9 plays the held-out benchmark.
DECONTAM_TAU = 0.40
DECONTAM_BENCH_LABEL = 9
#: Hard cap on the benchmark side (the DECONTAM_BENCH_CAP smallest
#: vec_ids): an eval suite is constant-size by nature, but the synthetic
#: scale-up grows every label with the corpus — without the cap the
#: "bounded × corpus" contract silently degrades to corpus × corpus.
#: Same id-cap precedent as operators/decontam.py's benchmark set.
DECONTAM_BENCH_CAP = 512


def q_embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose cosine against
    ANY benchmark-set vector reaches DECONTAM_TAU — the embedding-space
    complement of the 8-gram ``decontaminate_overlap`` (paraphrased eval
    questions share no n-grams but land close in embedding space).

    Per flagged vector: how many benchmark vectors it matches, the best
    cosine, and which benchmark vector that was. The argmax is the integer
    key encoding ``floor(cos*1e6) * ID_CAP - bench_id`` (same idiom as
    inverted_index_stats) — no float comparison decides a winner, so both
    engines pick the same benchmark vector on ties.

    Shape: benchmark side is BOUNDED by definition (an eval suite, not a
    corpus) and ENFORCED bounded by DECONTAM_BENCH_CAP (smallest ids —
    the synthetic scale-up grows every label with the corpus, which would
    otherwise silently turn this into corpus × corpus). The bounded bench
    set rides the task closure (one bounded collect, ≤512×64 doubles —
    same budget class as the k-means seed collect) and the corpus streams
    through the Arrow kernel ``cosine_candidates_vs_bounded`` — one
    BLAS-shaped numpy pass per batch instead of |corpus|×|bench|
    interpreted ``aggregate`` folds (sf1 sweep 7.7 s → ~2 s; the
    expanded-codegen fold was measured 4-5x SLOWER, see BASELINE.md).
    The kernel pre-filters with slack only: the threshold verdict
    ``dot/(nrm*bn) >= tau`` is the exact Catalyst expression, on
    fold-order-identical doubles, so parity with the SQL twin is bitwise.
    100 TB: map-only over the corpus scan; the only shuffle is the
    per-vector rollup of the (rare) above-threshold pairs.
    """
    from ..operators.similarity import cosine_candidates_vs_bounded_df

    emb = t(spark, sf_dir, "embeddings")
    # finite-component ingestion (finite_vec_pred), oracle-mirrored; the
    # Arrow kernel pairs per-length sub-blocks, so cross-length pairs are
    # dropped — the oracle's equal-length join guard is the twin
    base = emb.filter(finite_vec_pred("embedding")).select(
        "vec_id", "label", vec_double_col("embedding").alias("v")
    )
    bench_df = assert_id_domain(
        base.filter(F.col("label") == DECONTAM_BENCH_LABEL)
        .select(F.col("vec_id").alias("bench_id"), "v")
        .orderBy("bench_id")
        .limit(DECONTAM_BENCH_CAP),
        "bench_id", ID_CAP, "embedding_decontam",
    )
    corpus = spread(
        base.filter(F.col("label") != DECONTAM_BENCH_LABEL), key="vec_id"
    )
    cand = cosine_candidates_vs_bounded_df(corpus, bench_df, DECONTAM_TAU)
    cos = F.col("dot") / (F.col("nrm") * F.col("bn"))
    hits = (
        cand.filter(cos >= DECONTAM_TAU)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max(
                F.floor(cos * 1e6) * F.lit(ID_CAP) - F.col("bench_id")
            ).alias("topkey"),
        )
    )
    return hits.select(
        "vec_id",
        "n_hits",
        (F.expr(f"(topkey + {ID_CAP} - 1) div {ID_CAP}") / 1e6).alias(
            "best_cos"
        ),
        F.expr(
            f"((topkey + {ID_CAP} - 1) div {ID_CAP}) * {ID_CAP} - topkey"
        ).alias("best_bench_id"),
    )


_EMB_DECONTAM_SQL = f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE {finite_vec_sql('embedding')}),
normed AS (
  SELECT vec_id, label, v,
         sqrt({_fold_sum_duck("list_transform(v, x -> x * x)")}) AS nrm
  FROM base),
bench AS (
  SELECT vec_id AS bench_id, v AS bv, nrm AS bn FROM normed
  WHERE label = {DECONTAM_BENCH_LABEL}
  ORDER BY bench_id LIMIT {DECONTAM_BENCH_CAP}),
scored AS (
  SELECT c.vec_id,
         {dot_sql("c.v", "b.bv", EMB_DIM)} / (c.nrm * b.bn) AS cos,
         b.bench_id
  FROM normed c CROSS JOIN bench b
  WHERE c.label <> {DECONTAM_BENCH_LABEL} AND len(c.v) = len(b.bv)),
hits AS (
  SELECT vec_id, count(*) AS n_hits,
         max(CAST(floor(cos * 1e6) AS BIGINT) * {ID_CAP} - bench_id)
           AS topkey
  FROM scored WHERE cos >= {DECONTAM_TAU} GROUP BY vec_id)
SELECT vec_id, n_hits,
       ((topkey + {ID_CAP} - 1) // {ID_CAP}) / 1e6 AS best_cos,
       ((topkey + {ID_CAP} - 1) // {ID_CAP}) * {ID_CAP} - topkey
         AS best_bench_id
FROM hits
"""


# -- token-budget corpus selection -----------------------------------------
#: Quality-bucket width for the two-phase cumsum (quality is 4dp in [0,1],
#: so integer keys span 0..10000 and 250-wide buckets give 41 lattice rows).
QBUCKET = 250


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget: rank
    documents by the composite quality score (best first, doc_id
    tie-break) and keep every document that STARTS before the budget
    boundary — half the corpus's total tokens. The "fill the training
    budget with the best data" step of mixture construction.

    The global quality-ordered cumsum never runs as one window: documents
    bucket by integer quality band (bucket order = global quality order),
    within-band cumsums run bucket-parallel, and the per-band offsets plus
    the grand total ride a 41-row lattice broadcast back — the same
    two-phase trick as ``weighted_systematic_sample`` / training_order,
    with a VALUE-ordered (range) bucketing instead of a hash one. All
    arithmetic is exact BIGINT: the kept set is engine- and
    partitioning-independent. 100 TB: one corpus shuffle (the band
    partition); band skew is bounded because quality is 4dp-quantized —
    a pathological single-value corpus degrades to ~1 hot band, the same
    bound a global sort would hit at its boundary partition.

    The (doc_id, quality, w, qk, qb) projection is persisted: it has two
    consumers (band cumsum + band-totals lattice) and its parent is the
    expression-heavy text-feature scan — unpersisted, the features run
    twice (measured 7.2 -> 6.0 s at sf1). The cached relation is 5
    numeric-ish columns per doc, the same order as the shuffle the window
    already pays, and spill-safe (MEMORY_AND_DISK).
    """
    from pyspark import StorageLevel

    docs = spread(t(spark, sf_dir, "documents"))
    # staged attach: tokenize once per row (see attach_quality_features)
    d = (
        T.attach_quality_features(docs)
        .select(
            "doc_id",
            "quality",
            F.col("n_tokens").cast("long").alias("w"),
        )
        .withColumn("qk", F.round(F.col("quality") * 10000, 0).cast("long"))
        .withColumn("qb", F.expr(f"qk div {QBUCKET}"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wb = (
        Window.partitionBy("qb")
        .orderBy(F.col("qk").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumb = d.withColumn("cumb", F.sum("w").over(wb))
    sums = d.groupBy("qb").agg(F.sum("w").alias("c"))
    woff = Window.orderBy(F.col("qb").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    wtot = Window.orderBy(F.col("qb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lattice = sums.select(
        "qb",
        F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off"),
        F.sum("c").over(wtot).alias("tot"),
    )
    return (
        cumb.join(F.broadcast(lattice), "qb")
        .withColumn("cum", F.col("off") + F.col("cumb"))
        .filter(F.col("cum") - F.col("w") < F.expr("tot div 2"))
        .select(
            "doc_id",
            "quality",
            F.col("w").alias("n_tokens"),
            F.col("cum").alias("cum_tokens"),
        )
    )


def _token_budget_sql() -> str:
    q = T.quality_features_sql("text")
    return f"""
WITH f AS (
  SELECT doc_id, {q["quality"]} AS quality,
         CAST({q["n_tokens"]} AS BIGINT) AS w
  FROM documents),
k AS (SELECT *, CAST(round(quality * 10000) AS BIGINT) AS qk FROM f),
c AS (
  SELECT *,
         sum(w) OVER (ORDER BY qk DESC, doc_id ASC ROWS UNBOUNDED PRECEDING)
           AS cum,
         sum(w) OVER () AS tot
  FROM k)
SELECT doc_id, quality, w AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum - w < tot // 2
"""


# -- end-to-end curation funnel --------------------------------------------
#: Quality floor for the funnel's first stage (composite score, 4dp).
FUNNEL_QUALITY_MIN = 0.4


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation chain — quality floor, then exact dedup among
    survivors, then the per-domain cap — expressed as ONE declarative
    plan, reporting document and token counts after every stage (the
    yield report a data team reads before committing a corpus build).

    Per-document stage flags are computed in a single pass: the dedup
    rank partitions on (content hash, quality-pass) so failed docs never
    shadow a passing duplicate, and the cap rank partitions on
    (source, unique-pass) so the cap counts only docs still alive. The
    final single-row aggregate folds all four stage totals at once — the
    corpus is scanned ONCE, not once per stage. Shapes: two keyed window
    shuffles (content hash; source) + one map-combined aggregate.
    100 TB: identical; the domain window's skew story is
    ``q_domain_cap_sample``'s. Every output is an exact integer.
    """
    docs = spread(t(spark, sf_dir, "documents"))
    # staged attach: tokenize once per row (see attach_quality_features)
    base = T.attach_quality_features(docs).select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.md5(
            F.concat(F.lit(DOMAIN_CAP_SALT), F.col("doc_id").cast("string"))
        ).alias("hk"),
        F.col("n_tokens").cast("long").alias("w"),
        F.col("quality").alias("q"),
    ).withColumn("qp", F.col("q") >= FUNNEL_QUALITY_MIN)
    w_dup = Window.partitionBy("h", "qp").orderBy("doc_id")
    base = base.withColumn(
        "up", F.col("qp") & (F.row_number().over(w_dup) == 1)
    )
    w_cap = Window.partitionBy("source", "up").orderBy("hk", "doc_id")
    base = base.withColumn(
        "cp", F.col("up") & (F.row_number().over(w_cap) <= DOMAIN_CAP)
    )

    def _n(flag):
        return F.sum(F.when(F.col(flag), 1).otherwise(0)).cast("long")

    def _tok(flag):
        return F.sum(F.when(F.col(flag), F.col("w")).otherwise(0)).cast("long")

    return base.agg(
        F.count(F.lit(1)).alias("n_total"),
        _n("qp").alias("n_quality"),
        _n("up").alias("n_unique"),
        _n("cp").alias("n_capped"),
        F.sum("w").alias("tok_total"),
        _tok("qp").alias("tok_quality"),
        _tok("up").alias("tok_unique"),
        _tok("cp").alias("tok_capped"),
    )


def _curation_funnel_sql() -> str:
    qf = T.quality_features_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id, source, md5(text) AS h,
         md5('{DOMAIN_CAP_SALT}' || CAST(doc_id AS VARCHAR)) AS hk,
         CAST({qf["n_tokens"]} AS BIGINT) AS w,
         ({qf["quality"]} >= {FUNNEL_QUALITY_MIN}) AS qp
  FROM documents),
b1 AS (
  SELECT *, (qp AND row_number() OVER (PARTITION BY h, qp ORDER BY doc_id)
             = 1) AS up
  FROM base),
b2 AS (
  SELECT *, (up AND row_number()
             OVER (PARTITION BY source, up ORDER BY hk, doc_id)
             <= {DOMAIN_CAP}) AS cp
  FROM b1)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN qp THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN cp THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
       CAST(sum(w) AS BIGINT) AS tok_total,
       CAST(sum(CASE WHEN qp THEN w ELSE 0 END) AS BIGINT) AS tok_quality,
       CAST(sum(CASE WHEN up THEN w ELSE 0 END) AS BIGINT) AS tok_unique,
       CAST(sum(CASE WHEN cp THEN w ELSE 0 END) AS BIGINT) AS tok_capped
FROM b2
"""


_CURATION_FUNNEL_SQL = _curation_funnel_sql()


# -- mixture drift between ingest epochs -----------------------------------
def kl_drift_from_counts(per: DataFrame) -> DataFrame:
    """(lang, n_inc, n_base) counts -> the smoothed-share KL drift report.

    Shared arithmetic for the batch ``mixture_drift`` query and the
    streaming per-epoch monitor (streaming/drift.py): both paths agree on
    smoothing, quantization, and rounding BY CONSTRUCTION because this is
    the only implementation. Totals ride a 1-row in-flow broadcast
    aggregate (no driver collect)."""
    tot = per.agg(
        F.sum("n_inc").alias("tot_inc"),
        F.sum("n_base").alias("tot_base"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    smoothed = per.join(F.broadcast(tot)).select(
        "lang",
        "n_inc",
        "n_base",
        "tot_inc",
        "tot_base",
        "n_langs",
        (
            (F.col("n_inc") + 1).cast("double")
            / (F.col("tot_inc") + F.col("n_langs"))
        ).alias("p_inc"),
        (
            (F.col("n_base") + 1).cast("double")
            / (F.col("tot_base") + F.col("n_langs"))
        ).alias("p_base"),
    )
    staged = smoothed.select(
        "*",
        F.floor(F.log("p_inc") * 1e6).cast("long").alias("lp"),
        F.floor(F.log("p_base") * 1e6).cast("long").alias("lq"),
    )
    # Tie-margin batch (round 8): shares and the KL term are integer
    # ratios — quantize through the exact integer-space template instead
    # of round() on the raw double (a per-landed-half engine lottery).
    # kl_term = (a*d) / (b*1e6) at 6 dp reduces EXACTLY to
    # nearest_int(a*d / b) / 1e6, which keeps the template's denominator
    # at b (not b*1e6): safe for any corpus below ~4.6e18 docs; the
    # a*d numerator is bounded by |ln p| <= ~44 micro-nats-scaled, and an
    # overflow is a LOUD BIGINT abort on both engines, never a wrong row.
    return staged.select(
        "lang",
        "n_inc",
        "n_base",
        round_div("n_inc + 1", "tot_inc + n_langs", 6).alias("share_incoming"),
        round_div("n_base + 1", "tot_base + n_langs", 6).alias("share_base"),
        (
            round_div("(n_inc + 1) * (lp - lq)", "tot_inc + n_langs", 0)
            / F.lit(1e6)
        ).alias("kl_term"),
    )


def q_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture drift between the incoming batch and the base
    corpus (same doc_id % INC_MOD split as incremental_near_dup): per
    language, the share in each epoch and its contribution to
    KL(incoming ‖ base) — the drift monitor that catches a crawl epoch
    whose language (or domain) mix silently shifted before it pollutes
    the training mixture. Laplace +1 smoothing keeps the KL finite when
    a language is absent from one side.

    Determinism: shares are exact integer ratios; the two logs are
    evaluated once per LANGUAGE (bounded cardinality) and quantized to
    integer micro-nats before the subtraction, so the reported KL term is
    derived from exact integers by elementwise-identical double ops.
    Shape: one scan, one bounded-key groupBy, a 1-row totals aggregate
    rejoined in-flow (no driver count), all map-combinable. 100 TB: the
    reduce key space is the language set — partial aggregation does
    nearly all the work map-side.
    """
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.sum(
            F.when(F.col("doc_id") % INC_MOD == 0, 1).otherwise(0)
        ).alias("n_inc"),
        F.sum(
            F.when(F.col("doc_id") % INC_MOD != 0, 1).otherwise(0)
        ).alias("n_base"),
    )
    return kl_drift_from_counts(per)


_MIXTURE_DRIFT_SQL = f"""
WITH per AS (
  SELECT lang,
         CAST(sum(CASE WHEN doc_id % {INC_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_inc,
         CAST(sum(CASE WHEN doc_id % {INC_MOD} <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_base
  FROM documents GROUP BY lang),
tot AS (
  SELECT CAST(sum(n_inc) AS BIGINT) AS tot_inc,
         CAST(sum(n_base) AS BIGINT) AS tot_base,
         count(*) AS n_langs
  FROM per),
sm AS (
  SELECT lang, n_inc, n_base, tot_inc, tot_base, n_langs,
         CAST(n_inc + 1 AS DOUBLE) / (tot_inc + n_langs) AS p_inc,
         CAST(n_base + 1 AS DOUBLE) / (tot_base + n_langs) AS p_base
  FROM per CROSS JOIN tot),
lg AS (
  SELECT *, CAST(floor(ln(p_inc) * 1e6) AS BIGINT) AS lp,
         CAST(floor(ln(p_base) * 1e6) AS BIGINT) AS lq
  FROM sm)
SELECT lang, n_inc, n_base,
       {oracle_round_div('n_inc + 1', 'tot_inc + n_langs', 6)} AS share_incoming,
       {oracle_round_div('n_base + 1', 'tot_base + n_langs', 6)} AS share_base,
       ({oracle_round_div('(n_inc + 1) * (lp - lq)', 'tot_inc + n_langs', 0)} / 1e6)
         AS kl_term
FROM lg
"""


# -- deterministic train/val/test split ------------------------------------
SPLIT_SALT = "split"
SPLIT_TRAIN_LT = 9000  # bucket < 9000 -> train (90%)
SPLIT_VAL_LT = 9500  # 9000 <= bucket < 9500 -> val (5%); rest test


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by salted md5 hash bucket
    and report per (lang, split) doc counts, char totals, and the split
    share within each language.

    Hash assignment, never RNG: the split is a pure function of doc_id, so
    it is stable under repartitioning, incremental reprocessing, and
    engine choice — a document can NEVER migrate between train and test
    across pipeline reruns (the leakage mode an RNG split invites). Same
    bucket family as stratified_sample (operators/dedup.py) with a
    distinct salt, so sampling and splitting stay independent.
    Shapes: one scan, one map-combined groupBy; the per-lang share joins
    the tiny lang-totals aggregate back broadcast."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.expr(
        f"CAST(conv(substring(md5(concat('{SPLIT_SALT}', CAST(doc_id AS STRING))), 1, 7),"
        " 16, 10) AS LONG) % 10000"
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per = (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    lang_tot = per.groupBy("lang").agg(F.sum("n_docs").alias("lang_docs"))
    return (
        per.join(F.broadcast(lang_tot), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            "total_chars",
            # integer ratio -> exact 6-dp quantization (tie-margin batch)
            round_div("n_docs", "lang_docs", 6).alias("lang_share"),
        )
        .orderBy("lang", "split")
    )


_DATASET_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN ('0x' || substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000
                   < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN ('0x' || substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000
                   < {SPLIT_VAL_LT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
per AS (
  SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM assigned GROUP BY lang, split),
tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs FROM per GROUP BY lang)
SELECT p.lang, p.split, p.n_docs, p.total_chars,
       {oracle_round_div('p.n_docs', 't.lang_docs', 6)} AS lang_share
FROM per p JOIN tot t ON t.lang = p.lang
ORDER BY p.lang, p.split
"""


# -- leakage-safe (cluster-keyed) dataset split ------------------------------
#: salt for the CLUSTER-keyed split bucket — distinct from SPLIT_SALT so the
#: doc-keyed and cluster-keyed assignments stay independent hash families.
CLUSTER_SPLIT_SALT = "clsplit:"


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment keyed on the DUPLICATE-CLUSTER id (the
    content hash) instead of the doc id, with a leakage audit of the
    naive doc-keyed split. Splitting by doc id puts byte-identical copies
    of one document on both sides of the train/test wall — the textbook
    eval-contamination mode; hashing the cluster key makes straddling
    impossible BY CONSTRUCTION (every member shares the key), not by
    post-hoc filtering. Per split: cluster/doc/duplicate-doc counts plus
    ``naive_leaky_clusters`` — how many of this split's clusters the
    doc-keyed split would have torn across two or more splits (>0 on any
    corpus with duplicates: the measured cost of splitting naively).

    Shape: one corpus shuffle on the content hash (count + distinct
    partial-aggregated map-side; the distinct is over the ≤3 naive split
    labels per cluster), then a 3-row final aggregate. The cluster split
    is a pure function of content — stable under repartitioning, rerun,
    engine choice, and even doc-id reassignment, which the doc-keyed
    split does not survive."""
    docs = t(spark, sf_dir, "documents")

    def to_split(b):
        return (
            F.when(b < SPLIT_TRAIN_LT, F.lit("train"))
            .when(b < SPLIT_VAL_LT, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    naive_b = F.expr(
        f"CAST(conv(substring(md5(concat('{SPLIT_SALT}', CAST(doc_id AS STRING))), 1, 7),"
        " 16, 10) AS LONG) % 10000"
    )
    keyed = docs.select(
        F.md5("text").alias("h"), to_split(naive_b).alias("naive_split")
    )
    per_cluster = keyed.groupBy("h").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("naive_split").alias("n_naive_splits"),
    )
    cluster_b = F.expr(
        f"CAST(conv(substring(md5(concat('{CLUSTER_SPLIT_SALT}', h)), 1, 7),"
        " 16, 10) AS LONG) % 10000"
    )
    return (
        per_cluster.select(
            to_split(cluster_b).alias("split"), "n", "n_naive_splits"
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n").alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum(F.when(F.col("n_naive_splits") > 1, 1).otherwise(0))
            .cast("long")
            .alias("naive_leaky_clusters"),
        )
        .orderBy("split")
    )


_LEAKAGE_SPLIT_SQL = f"""
WITH keyed AS (
  SELECT md5(text) AS h,
         CASE WHEN ('0x' || substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000
                   < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN ('0x' || substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000
                   < {SPLIT_VAL_LT} THEN 'val'
              ELSE 'test' END AS naive_split
  FROM documents),
per_cluster AS (
  SELECT h, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT naive_split) AS BIGINT) AS n_naive_splits
  FROM keyed GROUP BY h),
assigned AS (
  SELECT CASE WHEN ('0x' || substring(md5('{CLUSTER_SPLIT_SALT}' || h), 1, 7))::BIGINT % 10000
                   < {SPLIT_TRAIN_LT} THEN 'train'
              WHEN ('0x' || substring(md5('{CLUSTER_SPLIT_SALT}' || h), 1, 7))::BIGINT % 10000
                   < {SPLIT_VAL_LT} THEN 'val'
              ELSE 'test' END AS split,
         n, n_naive_splits
  FROM per_cluster)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(sum(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS naive_leaky_clusters
FROM assigned GROUP BY split ORDER BY split
"""


#: bigram_pmi: minimum pair count (PMI of rare pairs is log-noise) and
#: result size.
PMI_MIN_COUNT = 5
PMI_TOP = 25


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs whose joint frequency beats the independence assumption — the
    phrase-mining signal a tokenizer-training / stop-phrase pipeline
    reads off a corpus (high-PMI pairs are multi-word units; low-PMI
    frequent pairs are boilerplate glue).

    PMI = ln(p(ab) / (p(a)p(b))) computed as ONE ln over a single ratio
    of exact counts — ln((c_ab * N1 * N1) / (N2 * c_a * c_b)) with both
    products formed in identical order as doubles — so both engines see
    one identical division and one identical ln, no log-sum drift.

    Shape: one tokenize pass feeds both the bigram explode and the
    unigram explode; counts are map-combined groupBys keyed on the token
    strings; the two unigram joins are hash joins on those keys (vocab-
    sized, not corpus-sized, after the count collapse); the corpus
    totals ride in as a 1-row broadcast, and the top-25 cut is a
    TakeOrderedAndProject over the PMI_MIN_COUNT survivors.
    """
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    toks = (
        docs.select(F.split(F.lower("text"), " +").alias("tk"))
        .select(F.filter("tk", lambda x: x != "").alias("tk"))
        .withColumn("n", F.size("tk"))
    )
    # NOTE (r11, examined and left alone): uni/big_all are each consumed
    # 2-3x and the executed plan re-tokenizes the corpus per reference (5
    # scans, 0 reused exchanges) — but persisting both count tables
    # measured 2.3x SLOWER at sf0.1 and 2.0x at sf1 (interleaved A/B,
    # tools/ab.py): the re-scans are cheap map-combined
    # passes that overlap in one job, while the cache pays a columnar
    # write + a scheduling barrier. Recompute wins at both SFs.
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big_all = (
        toks.filter(F.col("n") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("i"), "tk"
        )
        .select(
            F.element_at("tk", F.col("i")).alias("w1"),
            F.element_at("tk", F.col("i") + 1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    big = big_all.filter(F.col("c_ab") >= PMI_MIN_COUNT)
    # N2 counts ALL bigram occurrences, not just the floor survivors:
    # normalizing p(ab) by a truncated total would inflate every score by
    # a constant ln(N2_all / N2_filtered) and shift the independence zero.
    totals = uni.agg(F.sum("c").alias("n1_tot")).crossJoin(
        big_all.agg(F.sum("c_ab").alias("n2_tot"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_ab",
            # NAMED column then engine-identical quantize (no guard: PMI
            # is a log of count ratios, |pmi| << 1e14) — tie-margin
            # audit, final batch. Ranking runs on the QUANTIZED value on
            # both engines, as before.
            F.log(
                (
                    F.col("c_ab").cast("double")
                    * F.col("n1_tot")
                    * F.col("n1_tot")
                )
                / (
                    F.col("n2_tot").cast("double")
                    * F.col("c_a")
                    * F.col("c_b")
                )
            ).alias("_pmi"),
        )
        .select(
            "w1", "w2", "c_ab", quantize_double("_pmi", 4).alias("pmi")
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP)
    )


_BIGRAM_PMI_SQL = f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), ' +'),
                     x -> x <> '') AS tk
  FROM documents),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
big_all AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1, 1)) AS i
        FROM toks WHERE len(tk) >= 2)
  GROUP BY 1, 2),
big AS (SELECT * FROM big_all WHERE c_ab >= {PMI_MIN_COUNT}),
tot AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n1_tot,
         (SELECT CAST(sum(c_ab) AS BIGINT) FROM big_all) AS n2_tot),
raw AS (
  SELECT b.w1, b.w2, b.c_ab,
         ln((CAST(b.c_ab AS DOUBLE) * n1_tot * n1_tot)
            / (CAST(n2_tot AS DOUBLE) * ua.c * ub.c)) AS _pmi
  FROM big b
  JOIN uni ua ON b.w1 = ua.w
  JOIN uni ub ON b.w2 = ub.w
  CROSS JOIN tot)
SELECT w1, w2, c_ab,
       {oracle_quantize_double('_pmi', 4)} AS pmi
FROM raw
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOP}
"""


#: rare_category_collapse: sources below this corpus share fold to '(other)'.
RARE_SHARE_PCT = 3


def q_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-collapse of the source category: sources holding under
    RARE_SHARE_PCT% of the corpus fold into one '(other)' bucket — the
    cardinality-control step a mixture/balance stage runs first so a
    thousand one-document crawls don't each demand a mixture weight.

    All arithmetic is exact-integer: the share test is
    ``cnt * 100 < total * RARE_SHARE_PCT`` (no division), the total rides
    in as a 1-row broadcast over the COLLAPSED per-source counts (bounded
    cardinality — never the corpus), and the fold is a second tiny
    re-aggregation. Reported share is each final bucket's exact count
    over the total, rounded once on both engines.
    """
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    folded = (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.when(
                F.col("cnt") * 100 < F.col("total") * RARE_SHARE_PCT,
                F.lit("(other)"),
            )
            .otherwise(F.col("source"))
            .alias("category"),
            "cnt",
            "total",
        )
        .groupBy("category")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.max("total").alias("total"),
        )
    )
    return folded.select(
        "category",
        "n_docs",
        "n_sources",
        # integer ratio -> exact 4-dp quantization (tie-margin batch)
        round_div("n_docs", "total", 4).alias("share"),
    ).orderBy(F.desc("n_docs"), "category")


_RARE_COLLAPSE_SQL = f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
folded AS (
  SELECT CASE WHEN cnt * 100 < total * {RARE_SHARE_PCT}
              THEN '(other)' ELSE source END AS category,
         cnt, total
  FROM counts CROSS JOIN tot)
SELECT category,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_sources,
       {oracle_round_div('sum(cnt)', 'max(total)', 4)} AS share
FROM folded
GROUP BY 1
ORDER BY n_docs DESC, category
"""


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every pair of corpus sources,
    how many distinct SEG_TOKENS-word segments they share — the
    which-crawls-overlap report that decides dedup ordering and source
    de-weighting in a multi-crawl 100 TB build (two snapshots of the same
    crawl show up as one hot off-diagonal cell).

    Shape: the segment hash is carried WITH its source through the
    map-side explode (no join back to documents), collapsed to distinct
    (h, source) once — one shuffle — then the pair counts come from an
    equi-SELF-JOIN keyed on the segment hash. Per-key fan-out is bounded
    by the source cardinality (a low-cardinality catalog attribute), so
    the join output is linear in the distinct-segment stream even for
    boilerplate hashes shared by every source. The matrix itself is
    ≤ |sources|² rows — driver-safe output by construction.
    """
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    segs = _segments(docs, key_col="source")
    srcs = segs.select("h", "source").distinct()
    a = srcs.alias("a")
    b = srcs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_segments"))
        .orderBy(F.desc("shared_segments"), "src_a", "src_b")
    )


_DUP_SOURCE_MATRIX_SQL = f"""
WITH segs AS ({_segments_sql("source")}),
srcs AS (SELECT DISTINCT h, source FROM segs)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS shared_segments
FROM srcs a JOIN srcs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2
ORDER BY shared_segments DESC, src_a, src_b
"""


ENTRIES: dict[str, Q] = {
    "dataset_split": Q(
        q_dataset_split,
        _DATASET_SPLIT_SQL,
        "hash-bucket train/val/test split with per-lang shares",
    ),
    "leakage_safe_split": Q(
        q_leakage_safe_split,
        _LEAKAGE_SPLIT_SQL,
        "cluster-keyed split + naive-split leakage audit",
    ),
    "dup_source_matrix": Q(
        q_dup_source_matrix,
        _DUP_SOURCE_MATRIX_SQL,
        "cross-source shared-segment duplication matrix",
    ),
    "bigram_pmi": Q(
        q_bigram_pmi,
        _BIGRAM_PMI_SQL,
        "top collocations by single-ln exact-count PMI",
    ),
    "rare_category_collapse": Q(
        q_rare_category_collapse,
        _RARE_COLLAPSE_SQL,
        "integer-share tail-collapse of rare source categories",
    ),
    "segment_dup_fraction": Q(
        q_segment_dup_fraction,
        _SEGMENT_DUP_SQL,
        "per-doc fraction of corpus-repeated 10-token segments",
    ),
    "domain_cap_sample": Q(
        q_domain_cap_sample,
        _DOMAIN_CAP_SQL,
        "deterministic per-domain document cap",
    ),
    "unigram_logprob": Q(
        q_unigram_logprob,
        _UNIGRAM_SQL,
        "avg per-token log-prob under the corpus unigram LM",
    ),
    "embedding_norm_outliers": Q(
        q_embedding_norm_outliers,
        _NORM_OUTLIER_SQL,
        "per-label norm stats + deterministic 2-sigma outlier count",
    ),
    "incremental_near_dup": Q(
        q_incremental_near_dup,
        _INCREMENTAL_SQL,
        "incoming batch screened against base corpus by shared segments",
    ),
    "heavy_hitter_ngrams": Q(
        q_heavy_hitter_ngrams,
        _HEAVY_HITTER_SQL,
        "top-25 corpus 3-grams (boilerplate mining)",
    ),
    "embedding_decontam": Q(
        q_embedding_decontam,
        _EMB_DECONTAM_SQL,
        "cosine-threshold benchmark decontamination in embedding space",
    ),
    "token_budget_select": Q(
        q_token_budget_select,
        _token_budget_sql(),
        "quality-first selection under a half-corpus token budget",
    ),
    "mixture_drift": Q(
        q_mixture_drift,
        _MIXTURE_DRIFT_SQL,
        "per-language KL drift between ingest epochs",
    ),
    "curation_funnel": Q(
        q_curation_funnel,
        _CURATION_FUNNEL_SQL,
        "quality->dedup->domain-cap chain with per-stage doc/token counts",
    ),
}
