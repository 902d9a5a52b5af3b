"""Round-5 wave 3: the remaining classic TPC-H optimizer shapes (Q3, Q6,
Q8, Q9, Q10, Q18 — adapted to the testdata schema, which has no partsupp /
commitdate / shipmode) plus four corpus/event analytics surfaces
(event-transition matrix, revenue Gini, shingle containment, Zipf slope).

Everything here follows the engine-wide parity discipline (plans/base.py):
money in integer cents before summation, ratios rounded on both engines,
deterministic tie-breaks on every LIMIT.

Scale notes per query live on the docstrings; the common theme is the one
the rest of the catalog established — dimensions filter BEFORE joins and
broadcast, facts shuffle at most once per join key, and nothing collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import (
    oracle_quantize_double,
    oracle_round_div,
    quantize_double,
    round_div,
)
from ..session import materialize
from .base import Q, finite, finite_sql, spread, t


def _cents(expr: Column) -> Column:
    """Money expression -> exact integer cents (the engine-wide idiom)."""
    return F.round(expr * 100).cast("bigint")


def _rev() -> Column:
    """Per-line revenue; built lazily (F.col needs an active session)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# -- Q3: shipping priority ---------------------------------------------------
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top unshipped-revenue orders for one market segment as of a date
    (TPC-H Q3 shape, minus the absent o_shippriority column).

    Scale shape: the segment filter prunes customer to ~20% before its
    join (broadcast-able), the date filters prune BOTH fact sides at the
    scan (pushed), and the only fact-fact shuffle is lineitem join orders
    on the order key. The top-10 is a sort of the aggregated (per-order)
    rows, not of lineitem.
    """
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-07-01"))
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-07-01"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_cents(_rev())) / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_SHIPPING_PRIORITY_SQL = """
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l.l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


# -- Q6: forecast revenue (pure scan-aggregate) ------------------------------
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue delta from a discount-policy change (TPC-H Q6 shape): a
    single-table scan-aggregate whose four predicates must ALL reach the
    parquet scan — the canonical pushdown probe, zero joins, one
    map-combined global agg (no shuffle beyond the final 1-row exchange).
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount")))
                / 100.0
            ).alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_FORECAST_REVENUE_SQL = """
SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0
         AS forecast_revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


# -- Q8: national market share ----------------------------------------------
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One supplier nation's share of a region's yearly order volume for
    one part type (TPC-H Q8 shape): the deep snowflake join where every
    dimension (part, both nation legs, region) filters before joining and
    broadcasts, so the only shuffles are lineitem-orders and orders-customer.

    Share = CASE-sum over total-sum AFTER cents aggregation — the ratio is
    computed on two exact integers, so round(...,6) is cross-engine stable.
    """
    li = t(spark, sf_dir, "lineitem")
    part_f = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "MEDIUM")
        .select("p_partkey")
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") <= F.to_timestamp(F.lit("1997-12-31")))
    )
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nkey"))
    n_supp = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cents = _cents(_rev())
    return (
        li.join(F.broadcast(part_f), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("c_nkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", cents).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("_nat"),
            F.sum(cents).alias("_all"),
        )
        .select(
            "o_year",
            # exact-integer cents ratio through round_div — the last
            # F.round-on-a-ratio in this file (tie-margin audit).
            round_div("_nat", "_all", 6).alias("mkt_share"),
            (F.col("_all") / 100.0).alias("total_volume"),
        )
        .orderBy("o_year")
    )


_MARKET_SHARE_SQL = f"""
WITH vol AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         n2.n_name AS supp_nation,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
           AS cents
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE p.p_type = 'MEDIUM' AND r.r_name = 'ASIA'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'),
sums AS (
  SELECT o_year,
         CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)
              AS BIGINT) AS _nat,
         CAST(sum(cents) AS BIGINT) AS _all
  FROM vol GROUP BY o_year)
SELECT o_year,
       {oracle_round_div('_nat', '_all', 6)} AS mkt_share,
       _all / 100.0 AS total_volume
FROM sums ORDER BY o_year
"""


# -- Q9: product-line profit by nation/year ----------------------------------
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on one product line per (supplier nation, year) — TPC-H Q9
    reshaped for a schema without partsupp: supply cost is proxied as 60%
    of the part's retail price per unit, which preserves the Q9 plan shape
    (name-LIKE part prune, fact join to orders only for the year column,
    broadcast supplier-nation leg) with exact-cents arithmetic.

    Scale shape: part prunes ~5% before its broadcast join; the single
    fact-fact shuffle is lineitem-orders; profit is a map-side cents
    expression, so the final agg is 25 nations x 7 years.
    """
    li = t(spark, sf_dir, "lineitem")
    part_f = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    profit_cents = _cents(_rev()) - F.round(
        F.col("p_retailprice") * F.col("l_quantity") * 60
    ).cast("bigint")
    return (
        li.join(F.broadcast(part_f), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == F.col("s_nkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(profit_cents) / 100.0).alias("profit"))
        .orderBy("nation", "o_year")
    )


_PRODUCT_PROFIT_SQL = """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
           - CAST(round(p.p_retailprice * l.l_quantity * 60) AS BIGINT))
         / 100.0 AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# -- Q10: returned-item losses ----------------------------------------------
def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned the most revenue in one quarter (TPC-H Q10
    shape): both fact scans prune at the scan (quarter on orders, return
    flag on lineitem), nation broadcasts, and the top-20 sorts the per-
    customer aggregate, never the fact. c_acctbal passes through raw
    (bit-identical parquet doubles on both engines).
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_cents(_rev())) / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_RETURNED_LOSSES_SQL = """
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


# -- Q18: large-volume customers ----------------------------------------------
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a high-water threshold, with
    their customer (TPC-H Q18 shape). The classic HAVING-IN rewrite:
    aggregate lineitem ONCE, filter on the aggregate, and join the small
    survivor set back to orders/customer — never a second lineitem pass.
    Quantities are integral doubles, so the sum is exact in any order.

    Scale shape: one shuffle (lineitem by order key); the survivors
    (~1% of orders) broadcast into the orders join under AQE.
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
        .filter(F.col("total_qty") > 262)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


_LARGE_VOLUME_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       big.total_qty
FROM orders o
JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 262) big
  ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 50
"""


# -- event transition matrix ---------------------------------------------------
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov counts + row-share):
    the session-flow analytics shape. One shuffle partitions events by
    user; lag() orders within user by (ts, event_id) — the unique id
    breaks timestamp ties so the matrix is engine-independent. The share
    window runs over the 5x5 aggregated matrix, not the fact.
    """
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wrow = Window.partitionBy("prev_type")
    # share is a pure integer-count ratio: exact round_div template on the
    # NAMED window sum (tie-margin audit, final batch).
    return (
        trans.withColumn("row_sum", F.sum("n_transitions").over(wrow))
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            round_div("n_transitions", "row_sum", 6).alias("share"),
        )
        .orderBy("prev_type", "next_type")
    )


_EVENT_TRANSITIONS_SQL = f"""
WITH s AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
m AS (
  SELECT prev_type, event_type AS next_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
m2 AS (
  SELECT prev_type, next_type, n_transitions,
         sum(n_transitions) OVER (PARTITION BY prev_type) AS row_sum
  FROM m)
SELECT prev_type, next_type, n_transitions,
       {oracle_round_div('n_transitions', 'row_sum', 6)} AS share
FROM m2 ORDER BY prev_type, next_type
"""


# -- revenue concentration (Gini) ----------------------------------------------
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue — the concentration
    /skew audit a data-mixture owner runs on any weighted corpus.

    Needs every customer's GLOBAL ascending rank; a naive row_number is a
    one-partition sort, so this reuses global_order_positions
    (operators/relational.py): revenue cents are encoded as a magnitude-
    prefixed decimal string (lexicographic = numeric for non-negative
    ints) and ranked in 4-char-prefix buckets — parallel windows + a tiny
    offset lattice, no global sort. Gini = (2*sum(i*x_i) - (N+1)*sum(x))
    / (N*sum(x)) on exact integers (decimal(38,0) in Spark, HUGEINT in
    DuckDB), so round(...,6) is cross-engine stable.
    """
    from pyspark import StorageLevel

    from ..operators.relational import global_order_positions

    orders = t(spark, sf_dir, "orders")
    # The per-customer aggregate feeds four downstream consumers (the
    # ranking's window+offset branches; the totals row; the final
    # rank-sum): persisting it (customer-cardinality, spill-safe) cuts
    # the orders scan+aggregate from 4 runs to 1. The positions frame is
    # deliberately NOT persisted — its reconstruction from the cached
    # aggregate is cheap, and a second materialization measured slower
    # than the recompute at sf0.1.
    # a customer whose every price is NULL has UNKNOWN revenue (rc NULL):
    # unrankable, excluded on both engines (degenerate-parity sweep, r7)
    rev = (
        orders.groupBy("o_custkey")
        # finite() money contract (round-8 money sweep): non-finite price
        # is missing, never a CAST abort
        .agg(F.sum(_cents(finite("o_totalprice"))).alias("rc"))
        .filter(F.col("rc").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    digits = F.col("rc").cast("string")
    key = F.concat(F.lpad(F.length(digits).cast("string"), 2, "0"), digits)
    pos = global_order_positions(rev, key, "o_custkey", "i", bucket_chars=4)
    term = (
        (F.lit(2) * F.col("i") - F.col("n") - F.lit(1)).cast("decimal(38,0)")
        * F.col("rc").cast("decimal(38,0)")
    )
    totals = pos.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rc").alias("total_rc")
    )
    # Aggregate the exact-integer parts into NAMED columns, then one
    # engine-identical quantize on the ratio: numerator (decimal(38,0) /
    # HUGEINT) and denominator cast to double identically on both engines
    # (round-to-nearest int->double), the division is one IEEE op, and
    # gini is bounded in [0, 1] so no domain guard is needed (tie-margin
    # audit, final batch — this was the round-9 triage holdout).
    return (
        pos.crossJoin(F.broadcast(totals))
        .agg(
            F.sum(term).alias("_num"),
            F.first("n").alias("n_customers"),
            F.first("total_rc").alias("_trc"),
        )
        .select(
            quantize_double(
                "CAST(_num AS DOUBLE)"
                " / (CAST(n_customers AS DOUBLE) * CAST(_trc AS DOUBLE))",
                6,
            ).alias("gini"),
            "n_customers",
            (F.col("_trc") / 100.0).alias("total_revenue"),
        )
    )


_REVENUE_GINI_SQL = f"""
WITH rev AS (
  SELECT o_custkey,
         sum(CAST(round(({finite_sql('o_totalprice')}) * 100) AS BIGINT)) AS rc
  FROM orders GROUP BY 1 HAVING rc IS NOT NULL),
p AS (
  SELECT rc, row_number() OVER (ORDER BY rc, o_custkey) AS i,
         count(*) OVER () AS n, sum(rc) OVER () AS total_rc
  FROM rev),
g AS (
  SELECT sum((2 * i - n - 1)::HUGEINT * rc::HUGEINT) AS _num,
         any_value(n) AS _n, any_value(total_rc) AS _trc
  FROM p)
SELECT {oracle_quantize_double("CAST(_num AS DOUBLE) / (CAST(_n AS DOUBLE) * CAST(_trc AS DOUBLE))", 6)} AS gini,
       CAST(_n AS BIGINT) AS n_customers,
       _trc / 100.0 AS total_revenue
FROM g
"""


# -- shingle containment (asymmetric near-dup) ---------------------------------
#: document-frequency cap: shingles seen in more docs than this are treated
#: as boilerplate and never generate candidate pairs. This is the structural
#: bound that keeps the pair join quadratic only in docs-per-shingle.
CONTAINMENT_DF_CAP = 50
#: minimum containment (in EITHER direction) for a pair to be reported.
CONTAINMENT_MIN = 0.5
#: shingle width (words).
CONTAINMENT_N = 5


def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate detection: containment C(A,B) =
    |S(A) inter S(B)| / |S(A)| over 5-word shingles — the measure that
    catches a small doc embedded in a large one, which symmetric Jaccard
    (dedup_ngram_jaccard) misses by construction.

    Shares the dedup family's 28-bit shingle hashing (operators/dedup.py)
    so "same shingle" is byte-identical across the near-dup suite. Both
    numerator and denominator use the document-frequency-capped shingle
    set (df <= CONTAINMENT_DF_CAP): boilerplate shingles are excluded
    from the similarity definition itself, which simultaneously bounds
    candidate generation — at most cap*(cap-1)/2 pairs per shingle.

    Plan: ONE groupBy(h) builds sorted per-shingle doc lists (<= cap);
    one explode pass over each list emits BOTH the per-doc size tokens
    (the bare doc_id, < 2^32 — id-domain contract: a breach fails LOUDLY
    via ANSI overflow, pinned by the 2^61-key sweep; dense_ids re-keying
    is the documented upgrade path) and the candidate-pair tokens (packed
    (a+1)*2^32 + b BIGINTs — the triangle-census trick; the +1 offset
    keeps pair keys disjoint from doc tokens even for doc_id 0), so the
    expensive tokenize+shingle subtree has exactly ONE consumer — no
    persist, no recompute (the self-join encoding ran it three times; a
    persisted-lists variant paid a corpus-scale materialization; all
    three tie at local test scale, but one-pass is the only shape whose
    cost stays one shingle stream at 100 TB). A single map-combined
    count then serves as both the size rollup and the shared-shingle
    count; unpacking uses integer `div`, never float division.
    Contract: doc_id < 2^32 - 1 — repack wider past that.
    """
    from ..operators import dedup as D

    docs = spread(t(spark, sf_dir, "documents"))
    sh = (
        docs.select("doc_id", F.split(F.lower("text"), " +").alias("tk"))
        .filter(F.size("tk") >= CONTAINMENT_N)
        .select(
            "doc_id", F.explode(D.shingle_hash_expr("tk", CONTAINMENT_N)).alias("h")
        )
    )
    lists = (
        sh.groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") <= CONTAINMENT_DF_CAP)
    )
    toks = lists.select(
        F.explode(
            F.expr(
                "concat(ds, flatten(transform(ds, (p, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                "q -> (p + 1) * 4294967296L + q))))"
            )
        ).alias("tok")
    )
    # ONE consumer promise above held for the shingle subtree, but
    # counts itself feeds BOTH the sizes and pairs branches (and sizes
    # feeds two join sides) — Catalyst re-executed the whole census 3x
    # (r11 executed-plan audit: 3 parquet scans, 0 reused exchanges).
    # counts is post-census (doc tokens + cap-bounded pair tokens), so
    # materialize it once; every branch reads the leaf.
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).transform(
        materialize
    )
    sizes = counts.filter(F.col("tok") < 4294967296).select(
        F.col("tok").alias("doc_id"), F.col("c").alias("n_sh")
    )
    pairs = counts.filter(F.col("tok") >= 4294967296).select(
        (F.expr("tok div 4294967296") - 1).alias("doc_a"),
        (F.col("tok") % 4294967296).alias("doc_b"),
        F.col("c").alias("shared"),
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        # integer ratios -> exact 6-dp quantization (tie-margin batch,
        # round 8): a shared/n that lands on a true half split the
        # engines under plain round-on-double
        .withColumn("cont_a", round_div("shared", "n_a", 6))
        .withColumn("cont_b", round_div("shared", "n_b", 6))
        .filter(F.greatest("cont_a", "cont_b") >= CONTAINMENT_MIN)
        .select("doc_a", "doc_b", "shared", "n_a", "n_b", "cont_a", "cont_b")
        .orderBy("doc_a", "doc_b")
    )


def _shingle_containment_sql() -> str:
    from ..operators.dedup import shingle_hash_sql

    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), ' +') AS tk FROM documents),
sh AS (
  SELECT doc_id, unnest({shingle_hash_sql('tk', CONTAINMENT_N)}) AS h
  FROM toks WHERE len(tk) >= {CONTAINMENT_N}),
kept AS (
  SELECT * FROM (
    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sh)
  WHERE df <= {CONTAINMENT_DF_CAP}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM kept GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p.doc_a, p.doc_b, p.shared, sa.n_sh AS n_a, sb.n_sh AS n_b,
       {oracle_round_div('p.shared', 'sa.n_sh', 6)} AS cont_a,
       {oracle_round_div('p.shared', 'sb.n_sh', 6)} AS cont_b
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE greatest({oracle_round_div('p.shared', 'sa.n_sh', 6)},
               {oracle_round_div('p.shared', 'sb.n_sh', 6)})
      >= {CONTAINMENT_MIN}
ORDER BY p.doc_a, p.doc_b
"""


# -- Zipf slope -----------------------------------------------------------------
#: number of top-frequency terms the log-log fit runs over.
ZIPF_TOP_K = 200


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus unigram distribution: least-
    squares slope of log(freq) against log(rank) over the top-200 terms —
    the one-number language-health check (natural corpora sit near -1;
    template/boilerplate corpora flatten toward 0).

    Scale shape: token counting is the map-combined word-count; ONLY the
    top-K survivors (a constant) are ranked and fitted, so the window and
    the regression never touch corpus-sized data. The fit is a sum-of-
    moments aggregate — no collect, no iteration.
    """
    docs = spread(t(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.split(F.lower("text"), " +")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), "tok").limit(ZIPF_TOP_K)
    w = Window.orderBy(F.desc("freq"), "tok")
    ranked = top.withColumn("rank", F.row_number().over(w))
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("freq").cast("double"))
    stats = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    # pre-project the fit into NAMED columns, then engine-identical
    # quantize (no guard: log-moment magnitudes are bounded by
    # K*ln(freq) << 1e14) — tie-margin audit, final batch.
    return stats.select(
        slope.alias("_slope"),
        intercept.alias("_icept"),
        F.col("n").cast("bigint").alias("n_terms"),
    ).select(
        quantize_double("_slope", 4).alias("zipf_slope"),
        quantize_double("_icept", 4).alias("zipf_intercept"),
        "n_terms",
    )


_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), ' +')) AS tok FROM documents),
counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM toks
  WHERE tok <> '' GROUP BY tok),
top AS (SELECT * FROM counts ORDER BY freq DESC, tok LIMIT {ZIPF_TOP_K}),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank FROM top),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(ln(CAST(rank AS DOUBLE))) AS sx,
         sum(ln(CAST(freq AS DOUBLE))) AS sy,
         sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS sxy,
         sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx
  FROM ranked),
fit AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS _slope,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS _icept,
         CAST(n AS BIGINT) AS n_terms
  FROM s)
SELECT {oracle_quantize_double('_slope', 4)} AS zipf_slope,
       {oracle_quantize_double('_icept', 4)} AS zipf_intercept,
       n_terms
FROM fit
"""


# -- Q12: shipping-delay priority bands --------------------------------------
def q_ship_delay_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-vs-other line counts per shipping-delay band (TPC-H Q12
    shape, adapted: the testdata schema has no l_shipmode/l_commitdate/
    l_receiptdate, so the grouping key is a computed delay band —
    days between order date and ship date — instead of ship mode).

    Scale shape: both sides column-pruned to the join key plus 2 columns
    before the one fact-fact shuffle (lineitem ⋈ orders on the order key,
    the join Q12 cannot avoid; AQE plans it as a sort-merge join at real
    scale). The band CASE and the priority CASE are Catalyst expressions
    evaluated post-join, and the final aggregate is 4 groups map-side
    combined — the reduce exchange carries ~4 rows per map partition.
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(delay < 0, "early")
        .when(delay <= 30, "prompt")
        .when(delay <= 90, "standard")
        .otherwise("late")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(band.alias("delay_band"), high.alias("is_high"))
        .groupBy("delay_band")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_band")
    )


_SHIP_DELAY_BANDS_SQL = """
SELECT CASE WHEN d < 0 THEN 'early'
            WHEN d <= 30 THEN 'prompt'
            WHEN d <= 90 THEN 'standard'
            ELSE 'late' END AS delay_band,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT datediff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS d,
         o.o_orderpriority
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
GROUP BY 1
ORDER BY 1
"""


# -- Q16: supplier variety per part group -------------------------------------
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size) part group,
    excluding one brand, one type family, and a supplier denylist
    (TPC-H Q16 shape, adapted: no partsupp table, so supplier↔part
    pairs come from lineitem; no s_comment, so the NOT-IN denylist is
    negative-balance suppliers).

    Scale shape: the part dimension is filtered BEFORE its join (brand /
    type-prefix / size-set predicates all reach the parquet scan) and
    broadcast; the supplier denylist is a broadcast LEFT ANTI join —
    NOT IN on a null-free key is exactly an anti join, no shuffle. The
    COUNT(DISTINCT) runs as Catalyst's two-phase partial-distinct
    aggregate on (group keys, suppkey), so the reduce exchange carries
    deduplicated pairs, not raw lineitem rows.
    """
    sizes = [1, 4, 9, 14, 23, 36, 45, 49]
    part = (
        t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & (~F.col("p_type").startswith("MEDIUM"))
            & F.col("p_size").isin(sizes)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    denylist = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(denylist),
            li.l_suppkey == denylist.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(20)
    )


_SUPPLIER_VARIETY_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
LIMIT 20
"""


# -- skyline: pareto frontier --------------------------------------------------
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier of the part catalog on (maximize p_size,
    minimize p_retailprice): the sizes whose best price beats every
    larger size's best price — the classic non-dominated-set operator of
    the OLAP skyline literature, in its aggregate-first scalable form.

    Shape: the corpus-sized work is ONE map-combined min() per size key
    (p_size is a bounded catalog attribute, so the reduce side holds
    ≤ |sizes| rows). The dominance test is then a single running-min
    window over that collapsed relation ordered by size DESC — a
    streaming frame on a bounded input, NOT the naive all-pairs
    dominance self-join (quadratic in |parts|) nor a window over raw
    parts. Strict '<' implements the usual skyline semantics: equal
    price at a larger size dominates.
    """
    from ..operators.relational import pareto_frontier_max_min

    return pareto_frontier_max_min(
        t(spark, sf_dir, "part").select("p_size", "p_retailprice"),
        "p_size",
        "p_retailprice",
    ).withColumnRenamed("best_y", "best_price")


_PARETO_FRONTIER_SQL = """
WITH best AS (
  SELECT p_size, min(p_retailprice) AS best_price
  FROM part GROUP BY 1),
ranked AS (
  SELECT p_size, best_price,
         min(best_price) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS min_above
  FROM best)
SELECT p_size, best_price
FROM ranked
WHERE min_above IS NULL OR best_price < min_above
ORDER BY p_size DESC
"""


ENTRIES: dict[str, Q] = {
    "shipping_priority_topk": Q(
        q_shipping_priority, _SHIPPING_PRIORITY_SQL, "unshipped top-revenue orders (Q3 shape)"
    ),
    "forecast_revenue_scan": Q(
        q_forecast_revenue, _FORECAST_REVENUE_SQL, "pure scan-agg pushdown probe (Q6 shape)"
    ),
    "market_share_by_year": Q(
        q_market_share, _MARKET_SHARE_SQL, "snowflake market-share ratio (Q8 shape)"
    ),
    "product_profit_by_nation": Q(
        q_product_profit, _PRODUCT_PROFIT_SQL, "product-line profit rollup (Q9 shape)"
    ),
    "returned_item_losses": Q(
        q_returned_item_losses, _RETURNED_LOSSES_SQL, "returned-revenue top customers (Q10 shape)"
    ),
    "large_volume_orders": Q(
        q_large_volume_orders, _LARGE_VOLUME_SQL, "HAVING-aggregate join-back (Q18 shape)"
    ),
    "event_transitions": Q(
        q_event_transitions, _EVENT_TRANSITIONS_SQL, "per-user event transition matrix"
    ),
    "revenue_gini": Q(
        q_revenue_gini, _REVENUE_GINI_SQL, "revenue concentration Gini (bucketed global rank)"
    ),
    "shingle_containment": Q(
        q_shingle_containment,
        _shingle_containment_sql(),
        "asymmetric containment near-dup (df-capped shingles)",
    ),
    "zipf_slope": Q(
        q_zipf_slope, _ZIPF_SQL, "corpus Zipf exponent via top-K log-log fit"
    ),
    "ship_delay_bands": Q(
        q_ship_delay_bands,
        _SHIP_DELAY_BANDS_SQL,
        "delay-band priority line counts (Q12 shape)",
    ),
    "supplier_variety": Q(
        q_supplier_variety,
        _SUPPLIER_VARIETY_SQL,
        "distinct suppliers per part group with denylist (Q16 shape)",
    ),
    "pareto_frontier": Q(
        q_pareto_frontier,
        _PARETO_FRONTIER_SQL,
        "skyline non-dominated set (aggregate-first, no all-pairs)",
    ),
}
