"""Correlated-subquery / decorrelation catalog entries.

The reference script (weather_data_fetcher.py) expresses every lookup as a
pandas point-op; SURVEY.md §2.4-2.6 generalizes those to the join/aggregate
surface. This module adds the *subquery* face of that surface — EXISTS /
NOT EXISTS, correlated scalar aggregates, scalar-subquery thresholds, and
the grouping-sets lattice — each written the way Catalyst wants them
(joins + windows it can plan distributively) while the DuckDB oracle twin
states the classic correlated-SQL form, proving the decorrelation is
semantics-preserving.

Scale notes (100 TB):
  * EXISTS → left-semi equi-join on the FK: one keyed shuffle, partial-agg
    after; never a per-row probe.
  * Correlated scalar avg over the same key → a window (single shuffle on
    the correlation key) instead of groupBy+self-join (two shuffles).
  * Global scalar thresholds (avg/max over an aggregate) → 1-row broadcast
    joins, never a driver collect.
  * Money equality/comparison across engines uses the integer-cents trick
    (sum of per-row round(x*100) BIGINTs — exact, fold-order-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import oracle_round_div, round_div
from ..session import materialize
from .base import Q, finite, finite_pred, finite_spark_sql, finite_sql, spread, t


# -- EXISTS: late-shipment priority census (TPC-H Q4 shape) -----------------
def q_exists_shipped_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in 1996Q1 having at least one lineitem shipped more than 30
    days after the order date, counted per priority.

    EXISTS compiles to a LEFT SEMI join keyed on the FK with the
    correlated date predicate as join residual — one shuffle on
    l_orderkey, then a partial-aggregated count. No per-order probe.
    """
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_EXISTS_LATE_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -- scalar threshold + NOT EXISTS (TPC-H Q22 shape) ------------------------
def q_cold_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count and balance of above-average-balance customers with
    no order since 2000 (lapsed high-value accounts).

    The global scalar subquery (avg positive balance) is a 1-row aggregate
    broadcast-joined onto the customer scan — in-flow, no driver collect,
    same pattern as tfidf's corpus-N (llm_queries.py). NOT EXISTS is a
    LEFT ANTI equi-join on the date-pruned orders scan (the filter reaches
    the parquet scan before the shuffle). Threshold rounded to 2dp on BOTH
    engines so summation-order ulp drift cannot flip a membership.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    # threshold as an exact cents ratio (tie-margin audit, round 9): the
    # 2-dp money grid makes avg() a sum_cents/(100n) rational that CAN
    # land on a rounding half; quantize it in integer space on both
    # engines. finite() rides along per the money contract.
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            round_div(
                "sum(CAST(round(" + finite_spark_sql("c_acctbal") + " * 100) AS BIGINT))",
                "100 * count(" + finite_spark_sql("c_acctbal") + ")",
                2,
            ).alias("bal_threshold")
        )
    )
    # finite() money contract: a NaN/Inf balance row is MISSING, not a
    # job abort — without this, NaN sorts above the (now finite)
    # threshold on BOTH engines and poisons the decimal cents cast.
    return (
        cust.filter(finite_pred("c_acctbal"))
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("bal_threshold"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            (
                F.sum((F.col("c_acctbal") * 100).cast("decimal(38,0)")) / 100.0
            ).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


_COLD_CUST_SQL = f"""
SELECT c_nationkey,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal * 100 AS DECIMAL(38,0))) / 100.0 AS DOUBLE)
         AS totacctbal
FROM customer c
WHERE isfinite(c.c_acctbal)
  AND c.c_acctbal > (SELECT {oracle_round_div(
        "sum(CAST(round((" + finite_sql('c_acctbal') + ") * 100) AS BIGINT))",
        "100 * count(" + finite_sql('c_acctbal') + ")",
        2)} FROM customer
                     WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# -- correlated scalar avg per key (TPC-H Q17 shape) ------------------------
def q_small_qty_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue forgone to sub-20%-of-average-quantity orders of one
    brand's parts.

    The correlated `0.2 * (SELECT avg(l_quantity) ... same part)` becomes
    a window over l_partkey on the brand-filtered join — ONE shuffle on
    the correlation key, versus the naive groupBy + self-join's two. The
    brand filter prunes part 25x before the join; the join itself stays
    unhinted so AQE broadcasts at small SF and shuffles at scale. The
    threshold is rounded to 6dp on both engines: quantities are integral,
    so an exact-rational 0.2*avg can straddle a cross-engine ulp.
    """
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = t(spark, sf_dir, "lineitem")
    joined = li.join(part, li.l_partkey == part.p_partkey, "inner")
    # 0.2*avg == sum/(5*count) exactly: integer ratio -> exact 6-dp
    # quantization (tie-margin batch, round 8; l_quantity is integral so
    # the BIGINT cast of its sum is exact)
    flagged = joined.withColumn(
        "qty_threshold",
        round_div(
            "CAST(sum(l_quantity) OVER (PARTITION BY l_partkey) AS BIGINT)",
            "5 * count(l_quantity) OVER (PARTITION BY l_partkey)",
            6,
        ),
    )
    return flagged.filter(F.col("l_quantity") < F.col("qty_threshold")).agg(
        (
            F.sum((F.col("l_extendedprice") * 100).cast("decimal(38,0)")) / 700.0
        ).cast("double").alias("avg_yearly")
    )


_SMALL_QTY_SQL = f"""
SELECT CAST(sum(CAST(l_extendedprice * 100 AS DECIMAL(38,0))) / 700.0 AS DOUBLE)
         AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT {oracle_round_div(
                          'CAST(sum(l2.l_quantity) AS BIGINT)',
                          '5 * count(l2.l_quantity)', 6)}
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


# -- correlated per-row threshold over the same relation --------------------
def q_above_cust_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above 1.3x their own customer's average order value,
    censused per priority.

    The self-correlated scalar avg decorrelates to a window on o_custkey
    (one shuffle); the oracle keeps the textbook correlated form. Money
    is summed in integer cents for cross-engine exactness.
    """
    # finite() money contract (round-8 money sweep): a NaN/Inf price row
    # is MISSING — without the gate the exact-cents window cast below
    # ANSI-aborts on Spark (CAST(round(NaN*100) AS BIGINT)) while the
    # DuckDB twin sails on. Mirrored by isfinite() in the oracle.
    orders = t(spark, sf_dir, "orders").filter(finite_pred("o_totalprice"))
    # threshold = 1.3 * avg = 13*cents/(1000*n) on exact integers through
    # round_div (same window-snippet pattern as q_small_qty_revenue) —
    # tie-margin audit, final batch.
    return (
        orders.withColumn(
            "cust_avg",
            round_div(
                "13 * CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " OVER (PARTITION BY o_custkey) AS BIGINT)",
                "1000 * count(o_totalprice) OVER (PARTITION BY o_custkey)",
                4,
            ),
        )
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)")) / 100.0
            ).cast("double").alias("total_value"),
        )
        .orderBy("o_orderpriority")
    )


_ABOVE_AVG_SQL = f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) / 100.0 AS DOUBLE)
         AS total_value
FROM orders o
WHERE isfinite(o.o_totalprice)
  AND o.o_totalprice > (SELECT {oracle_round_div(
        '13 * CAST(sum(CAST(round(o2.o_totalprice * 100) AS BIGINT)) AS BIGINT)',
        '1000 * count(o2.o_totalprice)', 4)}
                        FROM orders o2 WHERE o2.o_custkey = o.o_custkey
                          AND isfinite(o2.o_totalprice))
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -- outer-join count distribution (TPC-H Q13 shape) ------------------------
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of customers by how many orders they placed (including
    zero — the LEFT OUTER join is the point).

    Two keyed shuffles, both partial-aggregated: count per customer, then
    count per order-count. The second groupBy's key cardinality is tiny
    (max orders per customer), so the final exchange is a few bytes per
    partition regardless of corpus size.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_CUST_DIST_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -- scalar max over an aggregated view (TPC-H Q15 shape) -------------------
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier(s) with maximum 1996Q1 revenue.

    Revenue is aggregated once and persisted implicitly by AQE's exchange
    reuse; the scalar `(SELECT max(...))` is a 1-row aggregate broadcast
    back onto the same aggregate — no second scan of lineitem, no driver
    round-trip. Revenue is summed in integer cents so the max-equality is
    exact on both engines (a rounded-double equality would be one ulp of
    summation drift away from dropping the winner).
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = t(spark, sf_dir, "supplier")
    # finite() money contract (round-8 money sweep): non-finite revenue
    # rows are missing, never a CAST abort.
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(finite(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("bigint")
        ).alias("revenue_cents")
    )
    max_rev = revenue.agg(F.max("revenue_cents").alias("max_cents"))
    return (
        revenue.join(
            F.broadcast(max_rev),
            revenue.revenue_cents == max_rev.max_cents,
            "inner",
        )
        .join(supplier, revenue.l_suppkey == supplier.s_suppkey, "inner")
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            (F.col("revenue_cents") / 100.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_TOP_SUPP_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(round(({finite_sql('l_extendedprice * (1 - l_discount)')}) * 100)
                  AS BIGINT))
           AS revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.revenue_cents / 100.0 AS total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.revenue_cents = (SELECT max(revenue_cents) FROM revenue)
ORDER BY s.s_suppkey
"""


# -- analytic rank family ---------------------------------------------------
def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile(10) of every customer inside its
    market segment, ordered by (acctbal, custkey).

    One shuffle on the segment key serves all three window functions (same
    frame). The tiebreak column makes every peer group a singleton, so
    percent_rank and cume_dist are exact small-integer ratios — IEEE
    division is bit-identical across engines before the 6dp rounding.
    """
    cust = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    # tie-margin audit (round 9): with singleton peer groups
    # percent_rank ≡ (rn-1)/(n-1) and cume_dist ≡ rn/n — materialize the
    # integer rank/count and quantize through the exact-integer template
    # so a ratio landing on a 6-dp half cannot split the engines. The
    # single-row-partition case (percent_rank = 0) is made explicit.
    # The partition count rides the SAME ordered spec with an unbounded
    # frame so all four functions fuse into one Window node / one
    # exchange (test_rank_suite_single_window_exchange).
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
            .alias("n"),
            F.ntile(10).over(w).alias("bal_decile"),
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            F.when(F.col("n") > 1, round_div("rn - 1", "n - 1", 6))
            .otherwise(F.lit(0.0))
            .alias("bal_percentile"),
            round_div("rn", "n", 6).alias("bal_cume_dist"),
            "bal_decile",
        )
    )


_RANK_SUITE_SQL = f"""
SELECT c_custkey, c_mktsegment,
       CASE WHEN n > 1 THEN {oracle_round_div('rn - 1', 'n - 1', 6)}
            ELSE 0.0 END AS bal_percentile,
       {oracle_round_div('rn', 'n', 6)} AS bal_cume_dist,
       bal_decile
FROM (
  SELECT c_custkey, c_mktsegment,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY c_mktsegment) AS n,
         ntile(10) OVER w AS bal_decile
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)) s
"""


# -- explicit asymmetric GROUPING SETS lattice ------------------------------
def q_grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document counts/chars on the asymmetric lattice ((lang, source),
    (lang), ()) — rollup and cube exist in the catalog
    (timeseries_queries.py); this is the free-form GROUPING SETS surface
    with a set cube would not produce (no (source)-only stratum).

    Spark expands grouping sets into a single exchange with the grouping-id
    appended to the key — one shuffle for all three strata. The level
    column is built from per-column `grouping()` bits on BOTH engines, so
    no cross-engine grouping_id bit-order assumption is needed.
    """
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupingSets([["lang", "source"], ["lang"], []], "lang", "source")
        .agg(
            (F.grouping("lang") * 2 + F.grouping("source")).alias("level"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("lang", "source", "level", "n_docs", "total_chars")
    )


_GROUPING_SETS_SQL = """
SELECT lang, source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS INTEGER) AS level,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), ())
"""


# -- nation-pair trade volume (TPC-H Q7 shape) ------------------------------
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between two fixed nations, per (supplier nation,
    customer nation, ship year) — the classic two-sided dimension filter
    over a lineitem⋈orders⋈customer⋈supplier⋈nation² join tree.

    Scale shape: both nation filters prune their dimension BEFORE the
    joins (each side keeps 1/25 of customers/suppliers); the only
    fact-fact shuffle is lineitem⋈orders on the order key — every
    dimension side stays broadcast-able. Revenue in integer cents.
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    n1 = nation.filter(F.col("n_name").isin("NATION_3", "NATION_7")).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin("NATION_3", "NATION_7")).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            (
                F.sum(
                    # finite() money contract (round-8 money sweep)
                    F.round(
                        finite(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
                    ).cast("bigint")
                )
                / 100.0
            ).alias("volume")
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


_TRADE_VOLUME_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
       sum(CAST(round(({finite_sql('l.l_extendedprice * (1 - l.l_discount)')}) * 100)
                AS BIGINT))
         / 100.0 AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_3', 'NATION_7')
  AND n2.n_name IN ('NATION_3', 'NATION_7')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# -- disjunctive predicate pushdown (TPC-H Q19 shape) -----------------------
def q_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR of three (brand, size-range, quantity-range)
    conjunctions — the pushdown stress shape: the common l_quantity
    bounds reach the lineitem scan while the per-branch residual
    evaluates post-join. One fact⋈dimension join; AQE broadcasts the
    brand-filtered part side at small SF.
    """
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return joined.filter(branch1 | branch2 | branch3).agg(
        (
            F.sum(
                # finite() money contract (round-8 money sweep)
                F.round(
                    finite(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
                ).cast("bigint")
            )
            / 100.0
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_DISJUNCTIVE_SQL = f"""
SELECT sum(CAST(round(({finite_sql('l_extendedprice * (1 - l_discount)')}) * 100)
                AS BIGINT))
         / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


# -- multi-correlated EXISTS + NOT EXISTS (TPC-H Q21 shape) -----------------
def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who single-handedly kept finished multi-supplier orders
    waiting: their line shipped >30 days after the order date, the order
    has at least one OTHER supplier (EXISTS), and no other supplier was
    late on it (NOT EXISTS). The Q21 shape — two correlated subqueries on
    the SAME fact decorrelated into one LEFT SEMI and one LEFT ANTI join,
    both keyed on l_orderkey with the supplier/date residuals evaluated
    inside the join.

    Scale shape: all three lineitem sides shuffle on the same key
    (l_orderkey), so AQE plans co-partitioned hash joins — no per-order
    probe, no distinct, no window. The supplier dim joins at the end,
    AFTER the count-reducing semi/anti pair.
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = t(spark, sf_dir, "supplier")
    waiting = (
        li.select(
            F.col("l_orderkey").alias("w_okey"),
            F.col("l_suppkey").alias("w_supp"),
            "l_shipdate",
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("w_okey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    # Two INDEPENDENTLY derived frames (fresh select → fresh attribute ids)
    # rather than one reused object: reusing the same DataFrame in both the
    # semi and the anti join would lean on Spark's DeduplicateRelations for
    # the second self-join — correct today but fragile across versions.
    def _other() -> DataFrame:
        return li.select(
            F.col("l_orderkey").alias("x_okey"),
            F.col("l_suppkey").alias("x_supp"),
            F.col("l_shipdate").alias("x_ship"),
        )

    multi = waiting.join(
        _other(),
        (F.col("w_okey") == F.col("x_okey")) & (F.col("x_supp") != F.col("w_supp")),
        "left_semi",
    )
    sole = multi.join(
        _other(),
        (F.col("w_okey") == F.col("x_okey"))
        & (F.col("x_supp") != F.col("w_supp"))
        & (F.col("x_ship") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_anti",
    )
    return (
        sole.join(supp, F.col("w_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_SOLE_LATE_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# -- HAVING over a global scalar-of-aggregate (TPC-H Q11 shape) -------------
def q_significant_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part types whose total retail value exceeds 1/8 of the whole
    catalog's value — HAVING sum(x) > (SELECT sum(x)/8 FROM ...), the Q11
    shape where the scalar threshold compares against an ALREADY-AGGREGATED
    result, not a base scan.

    Scale shape: one map-combined groupBy over part, then the global
    threshold as an unbounded window over the AGGREGATED lattice — the
    window's single partition holds group-cardinality rows (6 types), not
    corpus rows, so the "all data to one partition" cost is a few rows no
    matter the fact size. One scan, one shuffle, zero joins. Integer-cents
    sums keep the comparison fold-order-free and exact across engines.
    """
    part = t(spark, sf_dir, "part")
    # finite() money contract (round-8 money sweep)
    per_type = part.groupBy("p_type").agg(
        F.sum(F.round(finite("p_retailprice") * 100).cast("bigint")).alias("cents")
    )
    w = Window.partitionBy()  # over the 6-row aggregate, NOT the fact
    return (
        per_type.withColumn("thr_cents", F.sum("cents").over(w) / F.lit(8))
        .filter(F.col("cents") > F.col("thr_cents"))
        .select("p_type", (F.col("cents") / 100.0).alias("total_value"))
        .orderBy(F.desc("total_value"), "p_type")
    )


_SIGNIFICANT_TYPES_SQL = f"""
SELECT p_type,
       sum(CAST(round(({finite_sql('p_retailprice')}) * 100) AS BIGINT)) / 100.0
         AS total_value
FROM part
GROUP BY p_type
HAVING sum(CAST(round(({finite_sql('p_retailprice')}) * 100) AS BIGINT))
     > (SELECT sum(CAST(round(({finite_sql('p_retailprice')}) * 100) AS BIGINT))
        / 8.0 FROM part)
ORDER BY total_value DESC, p_type
"""


# -- argmin-per-group via agg + join-back (TPC-H Q2 shape) -------------------
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lowest-unit-price supplier per part — the Q2 argmin-per-group shape
    (min-cost supplier) re-keyed onto lineitem since this corpus ships no
    partsupp table. Decorrelation: per-part MIN aggregate joined back to
    the detail on (key, value) equality, ties broken by MIN(suppkey) — an
    exact integer, never a float argmax.

    The agg+join-back form beats a per-part window at scale: the MIN agg
    is map-side combined before its shuffle, and AQE co-partitions the
    join with the agg on l_partkey, so the detail shuffles once and no
    per-group sort happens. unit_price is a single IEEE division of two
    parquet doubles — bit-identical cross-engine — so the equality
    join-back is drift-free and the min passes through unrounded."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    mn = li.groupBy("l_partkey").agg(F.min("unit_price").alias("min_price"))
    best = (
        li.alias("u")
        .join(
            mn.alias("m"),
            (F.col("u.l_partkey") == F.col("m.l_partkey"))
            & (F.col("u.unit_price") == F.col("m.min_price")),
        )
        .groupBy(F.col("u.l_partkey").alias("p_partkey"))
        .agg(
            F.min("u.l_suppkey").alias("best_supp"),
            # no rounding: the min of bit-identical IEEE divisions is itself
            # bit-identical cross-engine, and round-at-4dp LANDS on half-way
            # cases (cents/qty hits .xxxx5 often) where the engines' rounding
            # modes diverge — raw passthrough is the deterministic choice.
            F.max("m.min_price").alias("min_unit_price"),
        )
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return best.join(F.broadcast(part), "p_partkey")


_CHEAPEST_SUPP_SQL = """
WITH up AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem),
mn AS (SELECT l_partkey, min(unit_price) AS min_price
       FROM up GROUP BY l_partkey),
best AS (
  SELECT u.l_partkey AS p_partkey,
         min(u.l_suppkey) AS best_supp,
         max(m.min_price) AS min_unit_price
  FROM up u JOIN mn m
    ON u.l_partkey = m.l_partkey AND u.unit_price = m.min_price
  GROUP BY u.l_partkey)
SELECT b.p_partkey, b.best_supp, b.min_unit_price, p.p_name
FROM best b JOIN part p USING (p_partkey)
"""


# -- ratio-to-group-total decorrelation (TPC-H Q20 flavor) -------------------
def q_dominant_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that shipped more than 3x the per-supplier average
    quantity of some part — the Q20 "threshold against a correlated
    aggregate of the same fact" shape (0.5*sum(l_quantity) there),
    re-keyed onto lineitem since this corpus ships no partsupp.

    The correlated comparison decorrelates into the per-(part,supplier)
    aggregate plus per-part totals as WINDOW aggregates over the reduced
    rows, not a second groupBy joined back: Catalyst does not reuse `per`
    across a join's two sides, so the join form scanned lineitem twice
    (r11: 2 scans → 1, 0.76× at sf0.1 / 0.72× at sf1). Window sum and
    count over BIGINTs are the exact groupBy values, so the all-integer
    threshold `q * nsupp > 3 * tq` matches the DuckDB GROUP BY + join twin
    bitwise.
    """
    li = t(spark, sf_dir, "lineitem").select(
        # floor() on BOTH engines: a bare cast truncates in Spark but rounds in
        # DuckDB, so the integer contract would silently diverge on any
        # non-integral quantity. floor is bit-deterministic cross-engine.
        "l_partkey", "l_suppkey", F.floor("l_quantity").cast("long").alias("qty")
    )
    per = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("qty").alias("q"))
    wp = Window.partitionBy("l_partkey")
    dominated = (
        per.withColumn("tq", F.sum("q").over(wp))
        .withColumn("nsupp", F.count(F.lit(1)).over(wp))
        .filter(F.col("q") * F.col("nsupp") > F.lit(3) * F.col("tq"))
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dominated.groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_parts_dominated"),
            F.sum("q").alias("dominated_qty"),
        )
        .join(F.broadcast(supp), "s_suppkey")
    )


_DOMINANT_SUPP_SQL = """
WITH per AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey),
tot AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tq, count(*) AS nsupp
  FROM per GROUP BY l_partkey),
dominated AS (
  SELECT p.l_suppkey, p.q
  FROM per p JOIN tot t USING (l_partkey)
  WHERE p.q * t.nsupp > 3 * t.tq)
SELECT d.l_suppkey AS s_suppkey,
       CAST(count(*) AS BIGINT) AS n_parts_dominated,
       CAST(sum(d.q) AS BIGINT) AS dominated_qty,
       s.s_name
FROM dominated d JOIN supplier s ON s.s_suppkey = d.l_suppkey
GROUP BY d.l_suppkey, s.s_name
"""


#: Structural bound on basket-pair generation: orders with more DISTINCT
#: parts are excluded BEFORE pairing, so the quadratic per-order blowup is
#: capped at MAX_BASKET^2 regardless of input skew (same
#: safety-by-construction contract as EXACT_PAIRS_CAP / FUZZY_PROBE_CAP).
#: Testdata max basket is 13.
MAX_BASKET = 32

#: An edge requires co-occurrence in >= MIN_SUPPORT distinct orders —
#: the frequent-itemset support threshold that keeps the co-purchase graph
#: sparse: one-off random co-occurrence (the quadratic bulk) never repeats,
#: so |edges| collapses ~1000x and stays sublinear in input at scale.
MIN_SUPPORT = 2


def _basket_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-purchase edges (x < y), pre-checkpoint —
    the basket/pairing pipeline of :func:`q_part_basket_triangles`,
    exposed so the plan test can pin its no-self-join shape."""
    # spread the single-file scan on the group key: the basket agg reuses
    # this hash partitioning (no-op on real multi-file data).
    li = spread(t(spark, sf_dir, "lineitem"), "l_orderkey").select(
        "l_orderkey", "l_partkey"
    )
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter((F.size("parts") >= 2) & (F.size("parts") <= MAX_BASKET))
    )
    # pairs as PACKED BIGINT keys (x*2^32 + y), not structs: struct
    # construction inside the nested transforms plus a two-column struct
    # groupBy measured 4.4x slower at sf1 for identical edges. Unpacking
    # uses integer `div` (never float division: pk exceeds 2^53 exactness
    # once part keys pass ~2^21, silently corrupting x at real scale).
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (p, i) -> "
                "transform(slice(parts, i + 2, size(parts)), "
                "q -> p * 4294967296L + q)))"
            )
        ).alias("pk")
    )
    return (
        pairs.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= MIN_SUPPORT)
        .select(
            F.expr("pk div 4294967296").alias("x"),
            (F.col("pk") % 4294967296).alias("y"),
        )
    )


def q_part_basket_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph: nodes are parts,
    an edge links two parts co-ordered in >= MIN_SUPPORT distinct orders,
    and triangles are counted once each via the a<b<c orientation (edge
    lists store x<y, the wedge join extends b->c, and the closing edge is
    a LEFT SEMI probe on (a,c)).

    Graph analytics shape distinct from pagerank_dup_graph (iterative) —
    this is the one-shot motif count. Id-domain contract: pair keys pack
    as p*2^32+q, so part ids must fit 32 bits — a breach fails LOUDLY
    via ANSI overflow (pinned by the 2^61-key sweep); re-key with
    dense_ids first when the natural id domain outgrows that. Scale contract: baskets are built
    with ONE map-side-combined collect_set shuffle of the 2-column fact
    (no pairing self-join), the basket cap bounds the array-HOF pair
    explode at MAX_BASKET^2 rows per order, the support count is a plain
    map-combinable count (pairs are distinct within an order by
    construction), and the threshold collapses the edge set before the
    (quadratic-in-degree) wedge join ever runs. Edges are materialized
    once (eager localCheckpoint) and reused by all three census
    branches."""
    # localCheckpoint, not persist: the thresholded edge set is TINY
    # relative to the pair stream, and the three census branches then
    # plan against a plain RDD leaf instead of an InMemoryRelation —
    # measured 2.4-2.6 s (persist) vs 1.6-1.9 s (checkpoint) warm at
    # sf0.1, same results (r10; the in-memory-columnar write/read plus
    # per-branch AQE replanning was the difference). The pre-checkpoint
    # pipeline lives in _basket_edges so its no-self-join shape stays
    # plan-testable.
    edges = _basket_edges(spark, sf_dir).transform(materialize)
    nodes = edges.select(F.col("x").alias("n")).union(
        edges.select(F.col("y").alias("n"))
    ).distinct()
    wedge = (
        edges.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .join(
            edges.select(F.col("x").alias("b"), F.col("y").alias("c")), "b"
        )
        .select("a", "c")
    )
    tri = wedge.join(
        edges.select(F.col("x").alias("a"), F.col("y").alias("c")),
        ["a", "c"],
        "left_semi",
    )

    def census(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_value")).select(
            F.lit(label).alias("metric"), "n_value"
        )

    return (
        census(nodes, "n_nodes")
        .union(census(edges, "n_edges"))
        .union(census(tri, "n_triangles"))
    )


#: The textbook self-join form, kept ONLY as the ground-truth reference
#: for tests/test_oracle_linearization.py (it spilled past free disk at
#: sf10 — see the linearized _TRIANGLES_SQL below, which replaced it as
#: the strict-sweep oracle in round 8).
_TRIANGLES_SQL_BRUTE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
keep AS (
  SELECT l_orderkey FROM li
  GROUP BY l_orderkey HAVING count(*) BETWEEN 2 AND {MAX_BASKET}),
li2 AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM li l JOIN keep k USING (l_orderkey)),
pairs AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM li2 a JOIN li2 b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
edges AS (
  SELECT x, y FROM pairs
  GROUP BY x, y HAVING count(*) >= {MIN_SUPPORT})
SELECT 'n_nodes' AS metric, CAST(count(*) AS BIGINT) AS n_value
FROM (SELECT x AS n FROM edges UNION SELECT y FROM edges)
UNION ALL
SELECT 'n_edges', CAST(count(*) AS BIGINT) FROM edges
UNION ALL
SELECT 'n_triangles', CAST(count(*) AS BIGINT)
FROM edges e1
JOIN edges e2 ON e1.y = e2.x
JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
"""


# Edge generation is LINEARIZED like the engine's (per-basket packed-key
# list comprehension) instead of the textbook li2xli2 self-join: at sf10
# the join materialization spilled past the host's free disk (the former
# measured exclusion), while the basket form streams one BIGINT pk per
# in-basket pair into a spillable group-by. Old-vs-new DuckDB equality is
# pinned by tests/test_oracle_linearization.py (edges identical by
# construction: baskets are sorted distinct part sets, so (p, q) with
# p < q enumerates exactly the a.l_partkey < b.l_partkey pairs).
_TRIANGLES_SQL = f"""
WITH baskets AS (
  SELECT list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING count(DISTINCT l_partkey) BETWEEN 2 AND {MAX_BASKET}),
pairs AS (
  SELECT unnest(flatten(list_transform(parts, (p, i) ->
           list_transform(parts[i + 1:], q -> p * 4294967296 + q)))) AS pk
  FROM baskets),
edges AS (
  SELECT pk // 4294967296 AS x, pk % 4294967296 AS y
  FROM pairs GROUP BY pk HAVING count(*) >= {MIN_SUPPORT})
SELECT 'n_nodes' AS metric, CAST(count(*) AS BIGINT) AS n_value
FROM (SELECT x AS n FROM edges UNION SELECT y FROM edges)
UNION ALL
SELECT 'n_edges', CAST(count(*) AS BIGINT) FROM edges
UNION ALL
SELECT 'n_triangles', CAST(count(*) AS BIGINT)
FROM edges e1
JOIN edges e2 ON e1.y = e2.x
JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
"""


ENTRIES: dict[str, Q] = {
    "sole_late_supplier": Q(
        q_sole_late_supplier,
        _SOLE_LATE_SQL,
        "EXISTS + NOT EXISTS on one fact (Q21 shape)",
    ),
    "significant_part_types": Q(
        q_significant_part_types,
        _SIGNIFICANT_TYPES_SQL,
        "HAVING vs scalar-of-aggregate (Q11 shape)",
    ),
    "nation_trade_volume": Q(
        q_nation_trade_volume, _TRADE_VOLUME_SQL, "nation-pair volume (Q7 shape)"
    ),
    "disjunctive_brand_revenue": Q(
        q_disjunctive_brand_revenue,
        _DISJUNCTIVE_SQL,
        "OR-of-conjunctions pushdown (Q19 shape)",
    ),
    "exists_shipped_late": Q(
        q_exists_shipped_late, _EXISTS_LATE_SQL, "EXISTS → semi join (Q4 shape)"
    ),
    "cold_customer_balances": Q(
        q_cold_customer_balances,
        _COLD_CUST_SQL,
        "scalar avg threshold + NOT EXISTS anti join (Q22 shape)",
    ),
    "small_qty_avg_yearly": Q(
        q_small_qty_avg_yearly,
        _SMALL_QTY_SQL,
        "correlated per-part avg → window (Q17 shape)",
    ),
    "above_cust_avg_orders": Q(
        q_above_cust_avg_orders,
        _ABOVE_AVG_SQL,
        "self-correlated scalar avg → window",
    ),
    "customer_order_distribution": Q(
        q_customer_order_distribution,
        _CUST_DIST_SQL,
        "left-outer count histogram (Q13 shape)",
    ),
    "top_revenue_supplier": Q(
        q_top_revenue_supplier,
        _TOP_SUPP_SQL,
        "scalar max over aggregated view (Q15 shape)",
    ),
    "window_rank_suite": Q(
        q_window_rank_suite, _RANK_SUITE_SQL, "percent_rank/cume_dist/ntile"
    ),
    "grouping_sets_mix": Q(
        q_grouping_sets_mix, _GROUPING_SETS_SQL, "asymmetric GROUPING SETS"
    ),
    "cheapest_supplier_per_part": Q(
        q_cheapest_supplier_per_part,
        _CHEAPEST_SUPP_SQL,
        "argmin-per-group via agg + join-back (Q2 shape)",
    ),
    "dominant_part_supplier": Q(
        q_dominant_part_supplier,
        _DOMINANT_SUPP_SQL,
        "ratio-to-correlated-total threshold (Q20 flavor)",
    ),
    "part_basket_triangles": Q(
        q_part_basket_triangles,
        _TRIANGLES_SQL,
        "support-thresholded co-purchase triangle census",
    ),
}
