"""Physical-plan regression guards: the properties that matter at 100 TB
(pushdown, pruning, broadcast selection, no accidental cross products) are
asserted on the *executedPlan* string, so a refactor that silently degrades
a plan fails CI even though results stay correct.

Plan-only tests — nothing here executes a query.
"""

from __future__ import annotations

import pytest

from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.catalog import CATALOG

# Non-equi-join queries where a BroadcastNestedLoopJoin is the *intended*
# physical shape (brute-force pairwise scoring with a broadcast side, a
# bounded probe set × broadcast candidate dim, or a guaranteed-1-row
# broadcast scalar like tfidf's in-flow corpus count).
NON_EQUI_OK = {
    "embedding_cosine_topk",
    "near_dup_embeddings",
    "fuzzy_name_match",
    "tfidf_top_terms",
    # 1-row broadcast scalar (in-flow corpus token count), same as tfidf.
    "unigram_logprob",
    # bounded benchmark set × corpus, same shape as embedding_cosine_topk.
    "embedding_decontam",
    # 1-row epoch-totals aggregate joined in-flow, same as tfidf's N.
    "mixture_drift",
    # 1-row broadcast scalar threshold (avg positive balance), Q22 shape.
    "cold_customer_balances",
    # 1-row broadcast of N for the integer base rank, same as tfidf's N.
    "pagerank_dup_graph",
    # 1-row broadcast of corpus stats (N, Σdl, df per term), same pattern.
    "bm25_keyword_topk",
    # per-column 1-row × 1-row stat joins (profiling_queries.py).
    "table_profile",
    # 1-row broadcast of (N, total) totals for the Gini ratio, same as
    # tfidf's in-flow corpus count.
    "revenue_gini",
    # 1-row sketch-estimate frame × 1-row exact frame (profiling_queries).
    "kmv_set_ops",
    # 1-row broadcast of (lo, hi) bounds for the bin arithmetic, same as
    # tfidf's in-flow corpus count.
    "numeric_histogram",
    # 1-row broadcast of (lo, hi, na, nb) bounds/totals, same pattern.
    "ks_drift",
    # 1-row broadcast of the (N1, N2) corpus token totals, same pattern.
    "bigram_pmi",
    # 1-row broadcast of the corpus total over the collapsed per-source
    # counts, same pattern.
    "rare_category_collapse",
}


def _plan(spark, sf_dir, name: str) -> str:
    df = CATALOG[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_products_anywhere(spark, sf_dir):
    offenders = []
    for name in CATALOG:
        plan = _plan(spark, sf_dir, name)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in NON_EQUI_OK:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, f"unexpected cross-product plans: {offenders}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_null_predicates")
    assert "PushedFilters" in plan
    # value > 50.0 and event_type <> 'error' must be pushed, not post-scan only
    assert "GreaterThan(value,50.0)" in plan
    assert "IsNotNull(value)" in plan


def test_column_pruning_on_corpus_scans(spark, sf_dir):
    """The round-4 curation queries read exactly (doc_id, text) from the
    5-column documents table — lang/source/n_chars must stay pruned, and
    the shingle hashing must be row-wise codegen, not an interpreted HOF
    lambda (measured ~4x slower for identical output)."""
    for name in ("substring_dup_spans", "url_domain_stats"):
        plan = _plan(spark, sf_dir, name)
        scan_lines = [l for l in plan.splitlines() if "FileScan" in l and "documents" in l]
        assert scan_lines, f"{name}: no documents scan found"
        read_schema = scan_lines[0].split("ReadSchema:")[-1]
        assert "doc_id" in read_schema and "text" in read_schema, name
        for col in ("lang", "source", "n_chars"):
            assert col not in read_schema, f"{name}: {col} not pruned"
    # row-wise hashing: md5 appears in a Project (codegen), not inside a
    # transform(...) lambda
    plan = _plan(spark, sf_dir, "substring_dup_spans")
    assert "md5" in plan
    assert "lambdafunction(md5" not in plan.replace(" ", "")


def test_column_pruning_on_wide_fact(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    # lineitem has 11 columns; the rollup needs exactly 4.
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l]
    assert scan_lines, "no lineitem scan found"
    read_schema = scan_lines[0].split("ReadSchema:")[-1]
    for col in ("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"):
        assert col in read_schema
    for col in ("l_comment", "l_shipdate", "l_quantity", "l_tax", "l_returnflag"):
        assert col not in read_schema


def test_dimension_joins_are_broadcast(spark, sf_dir):
    for name in ("left_join_broadcast", "inner_fk_join", "flagship_latest_obs"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dim join degraded to SMJ"


def test_range_join_is_bin_keyed_equi_join(spark, sf_dir):
    """The pure-range predicate (day BETWEEN ship AND arrive) must join on
    the exploded 16-day bin key — a hash join carrying the range as its
    residual condition — never a nested-loop over the raw predicate. The
    global no-BNLJ test would catch the fallback; this pins the intended
    key so a refactor can't silently swap in some other join column."""
    plan = _plan(spark, sf_dir, "range_join_transit")
    join_lines = [
        l for l in plan.splitlines() if "Join" in l and "__range_bin" in l
    ]
    assert join_lines, "no join keyed on __range_bin in plan"
    assert any("HashJoin" in l or "SortMergeJoin" in l for l in join_lines)


def test_vocab_topv_is_take_ordered_not_global_sort(spark, sf_dir):
    """The top-V vocabulary cut must run as TakeOrderedAndProject
    (per-partition top-V merged on the driver), never a full sort of the
    word-frequency table."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_windows_are_bucket_partitioned(spark, sf_dir):
    """The sampler's corpus cumsum must run as 256 bucket-parallel windows
    (partitioned by __b) plus exactly one unpartitioned window over the
    256-row offset lattice — never a single global window over the
    corpus."""
    plan = _plan(spark, sf_dir, "weighted_doc_sample")
    assert "windowspecdefinition(__b" in plan
    # two Window operators total: the bucketed cumsum + the tiny lattice
    assert plan.count("Window [") == 2


def test_scd2_is_one_full_outer_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scd2_merge_plan")
    assert "FullOuter" in plan
    assert plan.count("Join") >= 1


def test_funnel_has_no_event_stream_window(spark, sf_dir):
    """The funnel is conditional minima over keyed groupBys — a window
    over the raw event stream (per-user sort) would be the non-scalable
    encoding."""
    plan = _plan(spark, sf_dir, "funnel_stages")
    assert "Window [" not in plan
    assert "HashAggregate" in plan


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # Map-side combine before the shuffle: two HashAggregates, partial first.
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "priority_count_semi")
    assert "LeftSemi" in plan


# Queries allowed to run Python at all — Arrow-batched only (pandas_udf /
# mapInPandas). Row-at-a-time BatchEvalPython is banned everywhere.
ARROW_PYTHON_OK = {
    "multimodal_features",
    "image_decode_features",  # real PPM decode, mapInPandas kernel
    "audio_decode_features",  # real WAV decode, mapInPandas kernel
    "video_frame_sample",  # frame sampler + per-frame decode, two mapInPandas stages
    "image_dhash_buckets",  # perceptual hash, same decode kernel
    "ivf_cosine_topk",
    "weather_pipeline_e2e",
    # bounded-bench × corpus Arrow kernel (cosine_candidates_vs_bounded):
    # map-only over the corpus scan, BLAS-shaped batch scoring — replaces
    # |corpus|×|bench| interpreted aggregate folds (r5).
    "embedding_decontam",
    # multi-table LSH bucket kernel (similarity.lsh_buckets_col): one
    # vectorized pass replaces L×b interpreted plane-dot folds (r11);
    # knn_join_lsh additionally runs its per-bucket top-k mapInPandas.
    "ann_lsh_multitable",
    "knn_join_lsh",
}


def test_no_row_at_a_time_python_udfs(spark, sf_dir):
    offenders = []
    for name in CATALOG:
        plan = _plan(spark, sf_dir, name)
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        if ("ArrowEvalPython" in plan or "MapInPandas" in plan) and name not in ARROW_PYTHON_OK:
            offenders.append((name, "unexpected Python stage"))
    assert not offenders, f"Python in hot path: {offenders}"


def test_catalog_contract_oracle_or_whitelisted(spark):
    # Every catalog query must carry a DuckDB oracle unless it is one of
    # the two explicitly rows-only surfaces (Pandas-UDF features, iterative
    # float training). Prevents silently shipping unverified queries.
    ROWS_ONLY_OK = {"multimodal_features", "ivf_cosine_topk"}
    missing = [
        name for name, q in CATALOG.items() if q.oracle is None and name not in ROWS_ONLY_OK
    ]
    assert not missing, f"queries without oracle: {missing}"
    for name, q in CATALOG.items():
        assert callable(q.fn), name


def test_no_eager_actions_in_plan_modules():
    """Catalog query functions must be one deferred plan: a driver-side
    .count()/.collect() inside a query is an extra full pass over the
    input per invocation (at 100 TB, a second corpus scan to fetch a
    scalar). Training-time collects live in operators/ (IVF seed/refine,
    frozen out of the serving path), never in plans/."""
    import ast
    import pathlib

    import real_time_weather_data_pipeline_for_philippine_cities_spark.plans as plans

    banned = {"count", "collect", "toPandas", "first", "head", "take"}
    offenders = []
    for path in pathlib.Path(plans.__path__[0]).glob("*.py"):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in banned
                # F.count(...)/F.first(...) are aggregate *expressions*,
                # not driver actions — skip calls on the functions module.
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                )
            ):
                offenders.append(f"{path.name}:{node.lineno} .{node.func.attr}()")
    assert not offenders, f"eager driver actions in plan modules: {offenders}"


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_allpairs_jaccard"])
def test_jaccard_joins_not_forced_broadcast(spark, sf_dir, name):
    """The shingle-frequency table and doc-array dim grow with the corpus:
    a hard-coded F.broadcast would OOM at 100×. With the broadcast
    threshold forced to -1 (simulating a too-big-to-broadcast estimate)
    the plan must fall back to a shuffled join — which is only possible if
    the operator carries no broadcast hint. AQE still picks broadcast at
    real small SFs; this pins that it remains the *planner's* choice."""
    thresholds = {
        "spark.sql.autoBroadcastJoinThreshold": None,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": None,
    }
    for k in thresholds:
        try:
            thresholds[k] = spark.conf.get(k)
        except Exception:
            thresholds[k] = None
        spark.conf.set(k, "-1")
    # Earlier plan-only tests register these queries' persist() subtrees;
    # the cache manager would splice in an InMemoryRelation planned under
    # the DEFAULT threshold, hiding the join strategy under test.
    spark.catalog.clearCache()
    try:
        plan = _plan(spark, sf_dir, name)
    finally:
        for k, v in thresholds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "BroadcastHashJoin" not in plan, f"{name}: broadcast hint survives -1 threshold"
    assert "BroadcastExchange" not in plan, name
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), name


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_ngram_jaccard", "simhash_near_dup"])
def test_pairwise_dedup_parallelizes(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    # The signature/base stage must be spread before pairwise work; a plan
    # with no repartition exchange would run the O(n^2) stage in the scan's
    # 1-2 partitions. All three signature stages persist() (the r10 sf1
    # measurement kept persist over checkpoint for corpus-scale stages),
    # so the repartition must be visible in the plan itself — no
    # ExistingRDD escape hatch (r10 advice: it let a plan that dropped the
    # spread entirely pass whenever any checkpoint leaf appeared).
    assert "REPARTITION_BY_COL" in plan, name
    assert "CartesianProduct" not in plan, name


def test_checkpoint_modes_agree(spark, sf_dir, monkeypatch):
    """$SPARK_GRAFT_CHECKPOINT selects durability posture only — the
    local / reliable modes of session.materialize must produce identical
    rows (canonical consumer: the connected-components entry, whose edge
    pipeline runs through three materialize sites). Reliable-mode
    checkpoint files are cleaned once their frame is garbage-collected."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"

    results = {}
    for mode in ("local", "reliable"):
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", mode)
        df = CATALOG["canonical_doc_assign"].fn(spark, sf_dir)
        results[mode] = sorted(map(tuple, df.collect()))
        spark.catalog.clearCache()
    assert results["local"] == results["reliable"]
    assert len(results["local"]) > 0


def test_unigram_logprob_single_corpus_scan_via_exchange_reuse(spark, sf_dir):
    """N is derived from the term-count exchange, not a second documents
    scan: the final AQE plan must reuse the tf/cnt exchanges (one corpus
    read feeds both the corpus total and the per-term log-probs)."""
    df = CATALOG["unigram_logprob"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2


def test_token_budget_windows_are_quality_band_partitioned(spark, sf_dir):
    """The budget selection's corpus cumsum must run as quality-band
    bucket-parallel windows plus the tiny lattice window — never a single
    global quality-ordered window over the corpus."""
    plan = _plan(spark, sf_dir, "token_budget_select")
    assert "windowspecdefinition(qb" in plan
    assert plan.count("Window [") == 2  # band cumsum + 41-row offset lattice


# -- subquery wave (plans/subquery_queries.py) ------------------------------
def test_exists_compiles_to_semi_join(spark, sf_dir):
    """Q4-shape EXISTS must be a LEFT SEMI equi-join on the FK with the
    date predicate as residual — not an inner join + distinct, and never a
    per-row probe."""
    plan = _plan(spark, sf_dir, "exists_shipped_late")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_not_exists_compiles_to_anti_join_on_pruned_scan(spark, sf_dir):
    """Q22-shape NOT EXISTS must be a LEFT ANTI join, and the orders-side
    date filter must reach the parquet scan (scan-prune before shuffle)."""
    plan = _plan(spark, sf_dir, "cold_customer_balances")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # PushedFilters


def test_correlated_avg_decorrelates_to_window(spark, sf_dir):
    """Q17-shape correlated scalar avg must be ONE window over the
    correlation key — no lineitem self-join (the naive decorrelation)."""
    plan = _plan(spark, sf_dir, "small_qty_avg_yearly")
    assert "Window [" in plan
    # exactly one join: lineitem ⋈ part — a second would be the self-join
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, f"expected 1 join, plan has {joins}"


def test_self_correlated_avg_is_window_no_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "above_cust_avg_orders")
    assert "Window [" in plan
    joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 0, f"window decorrelation must not join, plan has {joins}"


def test_top_supplier_scalar_max_is_broadcast(spark, sf_dir):
    """Q15-shape: the 1-row max joins back via broadcast — the revenue
    aggregate must never shuffle against a 1-row side."""
    plan = _plan(spark, sf_dir, "top_revenue_supplier")
    assert "BroadcastHashJoin" in plan


def test_trade_volume_nation_dims_broadcast(spark, sf_dir):
    """Q7-shape: both pruned nation dims must ride in as broadcasts (the
    1/25-selectivity filter happens BEFORE the join), and no branch of the
    5-way tree may degrade to a nested-loop — the only shuffle allowed is
    the fact⋈fact lineitem⋈orders key exchange."""
    plan = _plan(spark, sf_dir, "nation_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2  # the two nation sides
    assert "BroadcastNestedLoopJoin" not in plan
    # the nation prune reaches the dimension scan, not post-join
    assert "In(n_name" in plan  # PushedFilters on the nation scans


def test_disjunctive_quantity_bounds_pushed_to_scan(spark, sf_dir):
    """Q19-shape: the OR of three (brand,size,quantity) conjunctions must
    contribute its lineitem-only disjunction to the scan (Spark's CNF
    extraction) — the scan prunes on the quantity-range union instead of
    reading every lineitem row into the join."""
    plan = _plan(spark, sf_dir, "disjunctive_brand_revenue")
    li_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert li_scans, "no lineitem scan found"
    # every lineitem scan must carry the quantity disjunction — if a future
    # rewrite splits the OR into multiple scans, each still has to prune
    for scan in li_scans:
        assert "l_quantity" in scan.split("PushedFilters:")[-1]
    assert "BroadcastNestedLoopJoin" not in plan


def test_sole_late_supplier_semi_plus_anti(spark, sf_dir):
    """Q21-shape: the two correlated subqueries on the same fact must
    decorrelate to one LEFT SEMI and one LEFT ANTI hash join keyed on
    l_orderkey — never a per-order probe, a distinct, or a nested loop."""
    plan = _plan(spark, sf_dir, "sole_late_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Distinct" not in plan


def test_significant_types_threshold_is_post_agg_window(spark, sf_dir):
    """Q11-shape: the scalar-of-aggregate threshold must come from a
    window over the ALREADY-AGGREGATED lattice (group-cardinality rows) —
    one part scan, zero joins; a second scan or a self-join of the
    aggregate would double the fact cost at scale."""
    plan = _plan(spark, sf_dir, "significant_part_types")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "Window" in plan


def test_rank_suite_single_window_exchange(spark, sf_dir):
    """percent_rank / cume_dist / ntile share one frame: one Window node,
    one exchange on the segment key."""
    plan = _plan(spark, sf_dir, "window_rank_suite")
    assert plan.count("Window [") == 1


def test_grouping_sets_single_exchange(spark, sf_dir):
    """The asymmetric lattice expands inside one aggregate: Expand + a
    single pair of partial/final HashAggregates, not one scan per stratum."""
    plan = _plan(spark, sf_dir, "grouping_sets_mix")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_bm25_tokenizes_once_via_reused_exchange(spark, sf_dir):
    """BM25's corpus-stats branch must reuse the tiny-feature exchange, not
    re-scan + re-tokenize documents. AQE stage reuse only materializes in
    the FINAL adaptive plan, so this test executes the query (sf0.001) and
    asserts exactly one live documents scan feeds both consumers."""
    df = CATALOG["bm25_keyword_topk"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in final  # top-k, never a global sort


def test_pagerank_iterates_on_checkpointed_edges(spark, sf_dir):
    """The iteration loop must see the edge list as a LogicalRDD leaf
    (eager localCheckpoint), never the inlined minhash subtree — and the
    loop itself is exactly one equi-join per round plus the isolated-node
    anti join (no per-round left-join-back onto the node set)."""
    plan = _plan(spark, sf_dir, "pagerank_dup_graph")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ExistingRDD" in final  # checkpointed edges leaf
    assert "md5" not in final  # minhash subtree fully behind the checkpoint
    rounds = sum(
        final.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.graph import (
        PAGERANK_ITERS,
    )

    # ITERS round joins + exactly one isolated-node anti join
    assert rounds == PAGERANK_ITERS + 1, (
        f"expected {PAGERANK_ITERS}+1 joins, got {rounds}"
    )
    assert final.count("LeftAnti") == 1  # isolated nodes, once


# ---------------------------------------------------------------------------
# round-5 analytics additions
# ---------------------------------------------------------------------------
def test_activity_islands_pipelines_after_two_exchanges(spark, sf_dir):
    """The distinct must collapse (map-side combined) on (user, day) before
    anything shuffles on user_id; the window and both stacked groupBys then
    reuse the single user_id partitioning (hash(user) satisfies clustering
    on (user, grp)) with no further exchange."""
    plan = _plan(spark, sf_dir, "activity_islands")
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 2
    assert final.count("Window") == 1
    # scan pruned to the two used columns
    assert "ReadSchema: struct<ts" in final and "event_type" not in final


def test_mad_outliers_broadcasts_both_stat_dims(spark, sf_dir):
    """Median and MAD are tiny per-type aggregates: both must come back as
    broadcast joins so the fact side never shuffles."""
    plan = _plan(spark, sf_dir, "mad_outliers")
    final = plan.split("+- == Initial Plan ==")[0]
    # 3 occurrences: the med join appears twice (the dev subtree is inlined
    # under both the MAD aggregate and the final census) + the mad join.
    assert final.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final


def test_kmv_sketch_is_one_md5_no_explode(spark, sf_dir):
    """The sketch path must hash each row ONCE and fan out via integer
    permutations inside a map-side-combined aggregate — no Generate
    (explode) node, and partial_min functions present."""
    plan = _plan(spark, sf_dir, "kmv_distinct_sketch")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "Generate" not in final
    assert "partial_min" in final
    assert final.count("md5") <= 2  # one per aggregate branch, not 32


def test_cheapest_supplier_uses_agg_join_not_window(spark, sf_dir):
    """Argmin-per-group must be the agg + join-back decorrelation (map-side
    combinable) — not a per-part window sort — and the part name dim must
    broadcast."""
    plan = _plan(spark, sf_dir, "cheapest_supplier_per_part")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "Window" not in final
    assert "BroadcastHashJoin" in final
    assert "partial_min" in final


def test_triangle_census_has_no_pairing_self_join(spark, sf_dir):
    """Basket pairs must come from the array HOF over collect_set baskets
    (one shuffle of the fact), not a lineitem x lineitem self-join: exactly
    one lineitem FileScan feeds the basket aggregate, and the support count
    is a plain map-combinable count (no distinct-agg expand)."""
    # The edge set is materialized once (eager localCheckpoint, r10), so
    # the census plan must read ONLY the ExistingRDD leaf — zero parquet
    # scans survive into it (a lineitem FileScan here would be the
    # pairing-self-join shape regressing).
    plan = _plan(spark, sf_dir, "part_basket_triangles")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "Scan ExistingRDD" in final
    assert "FileScan parquet" not in final
    # ... and the pre-checkpoint edge pipeline keeps the basket shape:
    # one collect_set shuffle of the fact, a map-combinable support
    # count, no count-distinct Expand, exactly one lineitem scan.
    from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.subquery_queries import (
        _basket_edges,
    )

    edge_plan = (
        _basket_edges(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "collect_set" in edge_plan
    assert "Expand" not in edge_plan
    assert edge_plan.count("FileScan parquet") == 1


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir):
    """Q6-shape: the whole WHERE clause is lineitem-local, so every
    predicate (date range, discount band, quantity bound) must reach the
    one and only scan — a Q6 that reads unpruned lineitem pages is the
    canonical 100-TB scan regression."""
    plan = _plan(spark, sf_dir, "forecast_revenue_scan")
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 1
    pushed = scans[0].split("PushedFilters:")[-1]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    assert "Join" not in plan


def test_large_volume_orders_single_lineitem_pass(spark, sf_dir):
    """Q18-shape: the HAVING-IN subquery must reuse ONE lineitem
    aggregation (filter on the aggregate, join the survivors back) —
    the naive rewrite scans and shuffles lineitem twice."""
    plan = _plan(spark, sf_dir, "large_volume_orders")
    li_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_market_share_dimension_legs_broadcast(spark, sf_dir):
    """Q8-shape: part (type-pruned), both nation legs and region must all
    ride in as broadcasts with their filters at the dimension scans; the
    fact side shuffles only on its join keys."""
    plan = _plan(spark, sf_dir, "market_share_by_year")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan
    part_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "p_partkey" in l
    ]
    assert part_scans and "p_type" in part_scans[0].split("PushedFilters:")[-1]


def test_shipping_priority_sorts_aggregate_not_fact(spark, sf_dir):
    """Q3-shape: the top-10 must be a TakeOrderedAndProject over the
    per-order aggregate — never a global sort of joined lineitem."""
    plan = _plan(spark, sf_dir, "shipping_priority_topk")
    assert "TakeOrderedAndProject" in plan
    # both fact-side date filters reach their scans
    for tbl, col in (("lineitem", "l_shipdate"), ("orders", "o_orderdate")):
        scans = [
            l for l in plan.splitlines() if "FileScan" in l and tbl in l
        ]
        assert scans and col in scans[0].split("PushedFilters:")[-1]


def test_countmin_counters_partial_agg_and_broadcast_probe(spark, sf_dir):
    """The count-min build must partial-aggregate below the exchange (the
    shuffle carries the bounded <= D*W counter sketch, never the corpus)
    and the probe -> counters join must be a broadcast hash join on
    (seed, bucket) — no sort-merge over a 4096-row side."""
    plan = _plan(spark, sf_dir, "countmin_heavy_hitters")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_count" in final
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_ship_delay_bands_prunes_columns_and_partial_aggs(spark, sf_dir):
    """Q12-shape: both fact scans must be column-pruned to the join key +
    the 2 columns the bands need, and the 4-group aggregate must partial
    below its exchange (the shuffle carries ~4 rows per map partition)."""
    plan = _plan(spark, sf_dir, "ship_delay_bands")
    li_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert li_scans
    schema = li_scans[0].split("ReadSchema:")[-1]
    assert "l_shipdate" in schema and "l_extendedprice" not in schema
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_sum" in final
    assert "CartesianProduct" not in plan


def test_supplier_variety_broadcasts_dims_and_anti_join(spark, sf_dir):
    """Q16-shape: the filtered part dim and the supplier denylist must
    both ride in as broadcasts (the denylist as a broadcast LEFT ANTI —
    NOT IN on a null-free key), with the part predicates at its scan;
    the top-20 is a TakeOrderedAndProject over the distinct aggregate."""
    plan = _plan(spark, sf_dir, "supplier_variety")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    part_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "p_partkey" in l
    ]
    assert part_scans
    pushed = part_scans[0].split("PushedFilters:")[-1]
    assert "p_brand" in pushed and "p_size" in pushed


def test_kmv_set_ops_single_pass_sketch_no_shuffle_of_rows(spark, sf_dir):
    """The 2R conditional minima must collapse in ONE map-combined global
    aggregate (partial_min below the 1-row exchange); the only joins are
    the 1-row est × 1-row exact combine — never a row-level shuffle of
    the user sets (that's the sketch's whole point)."""
    plan = _plan(spark, sf_dir, "kmv_set_ops")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_min" in final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_dup_source_matrix_hash_joins_on_segment_key(spark, sf_dir):
    """The source-pair counts must come from a HASH join keyed on the
    segment hash (src_a < src_b riding as the residual) — never a
    nested-loop — and the documents scan must not read unused columns."""
    plan = _plan(spark, sf_dir, "dup_source_matrix")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or plan.count(
        "BroadcastHashJoin"
    ) >= 1
    scans = [l for l in plan.splitlines() if "FileScan" in l and "documents" in l]
    assert scans
    schema = scans[0].split("ReadSchema:")[-1]
    assert "lang" not in schema and "n_chars" not in schema


def test_last_touch_attribution_single_user_window_no_join(spark, sf_dir):
    """The as-of attribution must be ONE window partitioned by user (a
    streaming frame — one shuffle on user_id), never a self-join of the
    event stream."""
    plan = _plan(spark, sf_dir, "last_touch_attribution")
    assert plan.count("Window [") == 1
    assert "windowspecdefinition(user_id" in plan
    assert "Join" not in plan.split("+- == Initial Plan ==")[0]


def test_pareto_frontier_aggregates_before_window(spark, sf_dir):
    """Skyline must run aggregate-first: a map-combined min() per size
    collapses the corpus BEFORE the (bounded-input) running-min window —
    never an all-pairs dominance self-join over raw parts."""
    plan = _plan(spark, sf_dir, "pareto_frontier")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_min" in final
    assert plan.count("Window [") == 1
    assert "Join" not in final


def test_numeric_histogram_partial_counts_and_broadcast_spine(spark, sf_dir):
    """The count pass must partial-aggregate below its exchange (the
    shuffle carries ≤ 20 bin rows per map partition, never raw events)
    and the spine fill must be a broadcast join — no sort-merge of two
    20-row sides."""
    plan = _plan(spark, sf_dir, "numeric_histogram")
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_count" in final
    assert "SortMergeJoin" not in final


def test_ks_drift_uses_bucketed_windows_not_global(spark, sf_dir):
    """The KS cumulative counts must run as KS_BUCKETS range-bucketed
    windows plus ONE tiny window over the bucket-totals lattice — never a
    single global-order window over the collapsed value stream."""
    plan = _plan(spark, sf_dir, "ks_drift")
    assert "windowspecdefinition(b" in plan
    assert plan.count("Window [") == 2
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_sum" in final


def test_bigram_pmi_joins_vocab_after_collapse(spark, sf_dir):
    """The unigram joins must be hash joins on the token key over the
    COUNT-COLLAPSED vocab relations (never corpus-sized sides in a
    nested loop), and the top-25 must be a TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "bigram_pmi")
    assert "TakeOrderedAndProject" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_count" in final
    # only the 1-row totals combines may nest-loop: the (N1 x N2) 1-row
    # cross and its broadcast onto the scored pairs — never the vocab joins
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("BroadcastHashJoin") >= 2


def test_join_key_skew_profile_is_pure_aggregation(spark, sf_dir):
    """Three count-shaped branches unioned: map-combined partial counts,
    no joins of any kind, nothing corpus-sized past the first agg."""
    plan = _plan(spark, sf_dir, "join_key_skew_profile")
    assert "Union" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    assert "partial_count" in final
    assert "Join" not in final


def test_scd2_apply_single_join_single_generate(spark, sf_dir):
    """The executed merge is ONE full-outer sort-merge/hash join on the
    business key with the 1-or-2 output rows per key produced by ONE
    explode — no per-action-branch re-join (a union of three filtered
    joins would re-shuffle the dim per branch)."""
    plan = _plan(spark, sf_dir, "scd2_apply")
    assert plan.count("Generate explode") == 1, plan[:1500]
    join_ops = sum(
        plan.count(op) for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert join_ops == 1, f"expected exactly 1 join, saw {join_ops}"
    assert "FullOuter" in plan
    # the duplicate-key guard windows must ride the join's own key
    # partitioning — exactly the two per-side exchanges the join needs,
    # nothing extra
    assert plan.count("Window") == 2
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]


def test_pii_scan_single_regex_pass(spark, sf_dir):
    """The combined-alternation rewrite must keep ONE regexp_extract_all
    over the document text (the only full-text regex); per-category
    classification runs on the extracted match arrays. No regexp_replace
    cascade, no join, no shuffle — a pure map-side scan."""
    plan = _plan(spark, sf_dir, "pii_scan")
    assert plan.count("regexp_extract_all") == 1, plan[:2000]
    assert "regexp_replace" not in plan
    assert "regexp_count" not in plan
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in plan, op
    # the only exchange allowed is spread()'s scan-parallelism repartition
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "REPARTITION_BY_COL" in plan


def test_pricing_summary_money_sums_are_integer_space(spark, sf_dir):
    """The sf10 strict sweep caught the money aggregates drifting a last
    cent when summed as raw doubles (~54M rows/group at sf10 makes the
    accumulation order visible). The fix quantizes each term to exact
    integer units INSIDE the aggregate; this pins it so a refactor that
    reverts to sum(double) for the money columns fails here rather than
    at the next strict decade."""
    plan = _plan(spark, sf_dir, "pricing_summary")
    # three integer-unit money sums: base price (cents), disc price
    # (1e-4 units), discount (1e-2 units) — all bigint partial sums
    assert plan.count("as bigint)") >= 6, plan[:2000]  # partial+final x3
    # since the round-8 money contract each quantization sits inside the
    # finite() CASE guard: partial_sum(case when not isnan(...) ...
    # round(...) as bigint); the integer-space shape is the bigint casts
    # plus round() still inside the partial aggregate
    assert "partial_sum(CASE WHEN (NOT isnan(" in plan, plan[:2000]
    assert "round(" in plan, plan[:2000]
    # still ONE exchange (partial agg below it), pushed shipdate filter
    assert plan.count("Exchange") == 1
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan


def test_unigram_logprob_quantizes_in_integer_space(spark, sf_dir):
    """Final 6dp score must come from half-away-from-zero INTEGER
    division (sf10 caught round() on the raw double division splitting
    engines on a true half). Pins the integer `div` and the absence of
    a round() over the score division."""
    plan = _plan(spark, sf_dir, "unigram_logprob")
    assert " div " in plan.replace("\n", " "), plan[:2000]
    assert "round((cast(score_micro" not in plan
    # score_micro itself must aggregate as an exact integer
    assert "partial_sum" in plan and "score_micro" in plan


def test_id_domain_guards_survive_optimization(spark, sf_dir):
    """assert_id_domain lowers to If(cond, null, raise_error) inside a
    kept filter; a future Catalyst simplification of `IsNull` over that
    shape to `true` would silently drop the packed-key domain guard
    (same hazard class as the SCD2 key guard pin). Require raise_error
    in the OPTIMIZED plan of all three guarded queries."""
    for name in ("inverted_index_stats", "canonical_doc_assign"):
        df = CATALOG[name].fn(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "raise_error" in optimized, (name, optimized[:1500])
    # embedding_decontam's guard executes inside the bounded bench
    # COLLECT (a separate job at plan-build time), so it never appears
    # in the returned plan; its loudness is pinned behaviorally by
    # tests/test_empty_inputs.py::test_packed_key_domains_fail_loudly.
