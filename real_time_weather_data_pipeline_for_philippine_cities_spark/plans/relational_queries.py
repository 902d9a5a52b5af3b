"""Relational-core catalog entries (SURVEY.md §2.3-2.6, §2.12, §3.2).

Covers: projections/renames/casts (P1-P8), broadcast left join (J1), inner
FK join (J3), symmetric-difference change detection (J2), dense surrogate
keys (§2.12), first-match ranking (W2/A2/J4), plus the analytics layer the
reference's README promises but never built (group-by aggregates, time
windows, top-k per group — SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import (
    dense_ids,
    first_match,
    latest_per_key,
    symmetric_difference,
    topk_per_group,
)
from ..functions.rounding import (
    oracle_quantize_double,
    oracle_round_div,
    quantize_domain_guard,
    quantize_double,
    round_div,
)
from .base import Q, finite, finite_pred, finite_spark_sql, finite_sql, t


# --------------------------------------------------------------------------
# Flagship: latest observation per key joined to its dimension — the shape of
# "latest weather per location ⋈ province" (SURVEY.md §7.1) on the testdata:
# events = observation fact, customer = location dim, nation = province dim.
# --------------------------------------------------------------------------
def q_flagship_latest_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    latest = latest_per_key(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    # Dimensions are tiny (reference dims: 146 / ~82 rows) → broadcast both;
    # the only shuffle in this plan is the per-key ranking.
    return (
        latest.join(F.broadcast(customer), latest.user_id == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            F.col("user_id"),
            F.col("event_id"),
            F.col("ts"),
            F.col("event_type"),
            F.col("value"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
        )
    )


_FLAGSHIP_SQL = """
WITH latest AS (
  SELECT user_id, event_id, ts, event_type, value FROM (
    SELECT user_id, event_id, ts, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
)
SELECT l.user_id, l.event_id, l.ts, l.event_type, l.value,
       c.c_name AS customer_name, n.n_name AS nation_name
FROM latest l
JOIN customer c ON l.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


# -- A: group-by aggregation (TPC-H Q1 shape) ------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        # Money sums accumulate in EXACT integer units (cents for the 2dp
        # price, 1e-4 units for the price×(1-disc) product) — the sf10
        # strict sweep caught the raw-double forms drifting a last cent at
        # ~54M rows/group (partial-aggregate tree order vs the oracle's
        # fold; round 7). l_quantity stays raw: integer-valued doubles sum
        # exactly in any order below 2^53.
        # The three ratio outputs quantize through the exact integer-space
        # template (tie-margin batch, round 8): units/10^k and intsum/count
        # can land on true rounding halves where plain round() splits the
        # engines (the sf10 last-cent class). sum_qty / sum_base_price stay
        # plain round: their inputs are an exact integral double and an
        # exact cents/100 value — 2-decimal grids cannot tie at 2 dp.
        # Money quantization rides the finite() contract (non-finite money
        # = missing, round-8 money sweep): CAST(round(NaN*100) AS BIGINT)
        # is a loud ANSI abort on BOTH engines — one corrupted price row
        # must not kill a 100 TB job.
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.round(finite("l_extendedprice") * 100).cast("bigint"))
                / 100.0,
                2,
            ).alias("sum_base_price"),
            round_div(
                "sum(CAST(round("
                + finite_spark_sql("l_extendedprice * (1 - l_discount)")
                + " * 10000) AS BIGINT))",
                "10000",
                2,
            ).alias("sum_disc_price"),
            round_div("CAST(sum(l_quantity) AS BIGINT)", "count(*)", 2).alias(
                "avg_qty"
            ),
            round_div(
                "sum(CAST(round(" + finite_spark_sql("l_discount") + " * 100) AS BIGINT))",
                "100 * count(*)",
                4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                          AS sum_qty,
       round(sum(CAST(round(({finite_sql('l_extendedprice')}) * 100) AS BIGINT))
             / 100.0, 2)                                  AS sum_base_price,
       {oracle_round_div(
           'sum(CAST(round((' + finite_sql('l_extendedprice * (1 - l_discount)')
           + ') * 10000) AS BIGINT))',
           '10000', 2)} AS sum_disc_price,
       {oracle_round_div('CAST(sum(l_quantity) AS BIGINT)', 'count(*)', 2)}
                                                          AS avg_qty,
       {oracle_round_div('sum(CAST(round((' + finite_sql('l_discount')
                         + ') * 100) AS BIGINT))',
                         '100 * count(*)', 4)}            AS avg_disc,
       count(*)                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# -- P1/P2/P3/P6: projection, rename, cast ---------------------------------
def q_project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .withColumnRenamed("c_mktsegment", "segment")
        .withColumn("cust_code", F.col("c_custkey").cast("string"))
        # finite() money contract (round-8 money sweep): floor(NaN) cast
        # to BIGINT crashed the oracle; a non-finite balance is missing
        .withColumn("acctbal_floor", F.floor(finite("c_acctbal")).cast("long"))
        .drop("c_acctbal")
    )


_PROJECT_SQL = f"""
SELECT c_custkey, c_name, c_mktsegment AS segment,
       CAST(c_custkey AS VARCHAR) AS cust_code,
       CAST(floor({finite_sql('c_acctbal')}) AS BIGINT) AS acctbal_floor
FROM customer
"""


# -- P4/P5: filters and null predicates ------------------------------------
def q_filter_null_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        F.col("value").isNotNull() & (F.col("value") > 50.0) & (F.col("event_type") != "error")
    ).select("event_id", "user_id", "event_type", "value")


_FILTER_SQL = """
SELECT event_id, user_id, event_type, value
FROM events
WHERE value IS NOT NULL AND value > 50.0 AND event_type <> 'error'
"""


# -- J1: broadcast left equi-join chain (cities⋈provinces analog) ----------
def q_left_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


_LEFT_JOIN_SQL = """
SELECT c_custkey, c_name, n.n_name AS nation_name, r.r_name AS region_name
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


# -- J3: inner FK-resolution join (N+1 point lookups collapsed) ------------
def q_inner_fk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    # Reference resolves FKs with one SELECT per row and drops misses
    # (weather_data_fetcher.py:285-293) — i.e. an INNER broadcast join.
    return orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "o_custkey", "c_name", "o_totalprice", "o_orderstatus"
    )


_INNER_FK_SQL = """
SELECT o_orderkey, o_custkey, c_name, o_totalprice, o_orderstatus
FROM orders JOIN customer ON o_custkey = c_custkey
"""


# -- J2: symmetric-difference change detection -----------------------------
def q_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two overlapping-but-different snapshots of (partkey, suppkey) pairs —
    # line 1 vs line 2 of each order — so both diff directions are
    # populated, exercising add AND remove paths of the change detector.
    li = t(spark, sf_dir, "lineitem")
    new = (
        li.filter(F.col("l_linenumber") == 1)
        .select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )
    old = (
        li.filter(F.col("l_linenumber") == 2)
        .select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )
    # Recompute, do not persist: each snapshot feeds both anti-joins, but
    # persisting the two pair sets measured 1.02 s -> 1.99 s in the sf0.1
    # bench (r11) and ran 1,564 tasks where recompute runs 28 (local[4]).
    return symmetric_difference(new, old, ["partkey", "suppkey"])


_SYMDIFF_SQL = """
WITH new AS (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
             FROM lineitem WHERE l_linenumber = 1),
     old AS (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
             FROM lineitem WHERE l_linenumber = 2)
SELECT partkey, suppkey, 'left_only' AS diff_side FROM new
WHERE NOT EXISTS (SELECT 1 FROM old
                  WHERE old.partkey = new.partkey AND old.suppkey = new.suppkey)
UNION ALL
SELECT partkey, suppkey, 'right_only' AS diff_side FROM old
WHERE NOT EXISTS (SELECT 1 FROM new
                  WHERE new.partkey = old.partkey AND new.suppkey = old.suppkey)
"""


# -- §2.12: dense surrogate keys -------------------------------------------
def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    return dense_ids(
        nation.select("n_nationkey", "n_name"),
        [F.col("n_name").asc(), F.col("n_nationkey").asc()],
        id_col="location_id",
    )


_DENSE_IDS_SQL = """
SELECT n_nationkey, n_name,
       row_number() OVER (ORDER BY n_name ASC, n_nationkey ASC) AS location_id
FROM nation
"""


# -- W2/A2: latest-per-key ranking -----------------------------------------
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return latest_per_key(
        ev.select("user_id", "event_id", "ts", "event_type", "value"),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )


_LATEST_SQL = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


# -- J4/F5: first-match-by-priority (match_province if-ladder shape) -------
def q_first_match_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # Priority ladder mirrors the reference's rule ordering semantics
    # (weather_data_fetcher.py:159-218): lower priority wins; unmatched
    # event types are discarded like a no-match candidate.
    priority = (
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .when(F.col("event_type") == "signup", F.lit(2))
        .when(F.col("event_type") == "click", F.lit(3))
        .otherwise(F.lit(None).cast("int"))
    )
    return first_match(
        ev.select("user_id", "event_id", "ts", "event_type"),
        ["user_id"],
        priority,
        [F.col("ts").asc(), F.col("event_id").asc()],
        keep_priority_col="match_priority",
    )


_FIRST_MATCH_SQL = """
SELECT user_id, event_id, ts, event_type, match_priority FROM (
  SELECT user_id, event_id, ts, event_type,
         CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
                         WHEN 'click' THEN 3 END AS match_priority,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY (CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
                          WHEN 'click' THEN 3 END) ASC, ts ASC, event_id ASC) AS rn
  FROM events
  WHERE CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
             WHEN 'click' THEN 3 END IS NOT NULL
) WHERE rn = 1
"""


# -- §2.9/§2.5: tumbling time-window aggregate -----------------------------
def q_hourly_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # Spark's window() is epoch-aligned, so 1-hour tumbling windows start at
    # date_trunc('hour') boundaries — the oracle twin below. window() DROPS
    # null timestamps (no window exists for them), so the oracle filters
    # ts IS NOT NULL explicitly; and a NaN/Inf metric is missing by the
    # finite() contract, never an ANSI CAST_OVERFLOW abort (degenerate-
    # parity sweep, round 7).
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact integer cents before summation: value is 2dp; the raw
            # double sum is one decade from the last-cent drift the sf10
            # sweep caught on pricing_summary (round 7)
            F.round(
                F.sum(F.round(finite("value") * 100).cast("bigint")) / 100.0, 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_HOURLY_SQL = """
SELECT date_trunc('hour', ts)                     AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR   AS window_end,
       event_type,
       count(*)                                   AS n_events,
       round(sum(CAST(round(CASE WHEN isfinite(value) THEN value END
                           * 100) AS BIGINT)) / 100.0, 2)
                                                  AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
"""


# -- analytics: per-type daily min/max -------------------------------------
def q_daily_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # aggregate into NAMED columns, then guarded engine-identical
    # quantize: value is an unbounded raw double, and the guard also
    # NULL-gates NaN/Inf identically on both engines — tie-margin audit,
    # final batch.
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.min("value").alias("_mn"),
            F.max("value").alias("_mx"),
            F.avg("value").alias("_av"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "day",
            "event_type",
            quantize_double(quantize_domain_guard("_mn", 2), 2).alias(
                "min_value"
            ),
            quantize_double(quantize_domain_guard("_mx", 2), 2).alias(
                "max_value"
            ),
            quantize_double(quantize_domain_guard("_av", 2), 2).alias(
                "avg_value"
            ),
            "n",
        )
    )


_DAILY_SQL = f"""
WITH agg AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         min(value) AS _mn, max(value) AS _mx, avg(value) AS _av,
         count(*) AS n
  FROM events
  WHERE value IS NOT NULL
  GROUP BY 1, 2)
SELECT day, event_type,
       {oracle_quantize_double(quantize_domain_guard('_mn', 2), 2)} AS min_value,
       {oracle_quantize_double(quantize_domain_guard('_mx', 2), 2)} AS max_value,
       {oracle_quantize_double(quantize_domain_guard('_av', 2), 2)} AS avg_value,
       n
FROM agg
"""


# -- W1 analog: top-k per group --------------------------------------------
def q_topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    # customer grows with SF — join strategy is AQE's call (no hint).
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey, "inner").select(
        F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice"
    )
    return topk_per_group(
        joined,
        ["segment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


_TOPK_SQL = """
SELECT segment, o_orderkey, o_totalprice, rank FROM (
  SELECT c_mktsegment AS segment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank <= 3
"""


# -- scale analytics: multi-join revenue rollup (TPC-H Q5 shape) -----------
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB join-plan showcase: lineitem⋈orders shuffles on orderkey
    (both sides big; AQE picks sort-merge and splits skew). Broadcast
    hints go ONLY on the bounded dimensions (nation ≈ 25 rows, region ≈ 5
    rows, fixed regardless of scale factor); customer and supplier GROW
    with the data, so their join strategy is left to AQE — it broadcasts
    them at small SF and switches to shuffle joins when they no longer
    fit, which a hard-coded hint would break at 100 TB. The date/region
    filters sit directly on the scans so row-group pruning sees them."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
            "inner",
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            # exact integer cents before summation: round(sum(raw), 2) is
            # summation-order-dependent and flipped the last cent vs the
            # oracle once sf1-scale magnitudes were reached (strict sf1
            # sweep, r5 continuation).
            (
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("bigint")
                )
                / 100.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_REVENUE_BY_NATION_SQL = """
SELECT n_name AS nation_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / 100.0 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# -- semi-join: orders with at least one returned item (TPC-H Q4 shape) ----
def q_priority_count_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the reference never needs one (SURVEY.md §2.4),
    but it's the idiomatic exists-predicate at scale: the probe side
    streams, the build side is deduplicated by the join itself (no
    distinct shuffle), and no lineitem columns survive the join."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_PRIORITY_SEMI_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# -- promo revenue share (TPC-H Q14 shape) ---------------------------------
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part with a conditional aggregate: monthly promo revenue
    share. part is ~2k rows at sf0.01 — broadcast; the shuffle is only the
    month groupBy of the pre-aggregated map side."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    # exact integer cents before summation (same sf1 last-cent drift fix
    # as revenue_by_nation).
    # finite() money contract (round-8 money sweep): a NaN/Inf price or
    # discount makes the revenue of that line MISSING, never a job abort
    rev_cents = F.round(
        finite(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
    ).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(
            (
                F.sum(
                    F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(
                        F.lit(0).cast("bigint")
                    )
                )
                / 100.0
            ).alias("promo_revenue"),
            (F.sum(rev_cents) / 100.0).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_PROMO_SQL = f"""
SELECT date_trunc('month', l_shipdate) AS ship_month,
       sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(({finite_sql('l_extendedprice * (1 - l_discount)')})
                          * 100) AS BIGINT)
                ELSE 0 END) / 100.0 AS promo_revenue,
       sum(CAST(round(({finite_sql('l_extendedprice * (1 - l_discount)')}) * 100)
                AS BIGINT))
         / 100.0 AS total_revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# -- full outer reconciliation ---------------------------------------------
def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the literal form of the reference's outer-merge
    diff (wdf.py:384); kept alongside the dual-anti-join encoding so both
    shapes are first-class. Reconciles per-user event activity against the
    customer dim with side indicators."""
    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")
    activity = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    accounts = cust.select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("acctbal")
    )
    j = activity.join(accounts, "key", "full_outer")
    return j.select(
        "key",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(F.coalesce("acctbal", F.lit(0.0)), 2).alias("acctbal"),
        F.when(F.col("n_events").isNull(), "dim_only")
        .when(F.col("acctbal").isNull(), "fact_only")
        .otherwise("both")
        .alias("presence"),
    )


_FULL_OUTER_SQL = """
WITH activity AS (
  SELECT user_id AS key, count(*) AS n_events FROM events GROUP BY 1),
accounts AS (
  SELECT c_custkey AS key, c_acctbal AS acctbal FROM customer)
SELECT coalesce(a.key, b.key) AS key,
       coalesce(a.n_events, 0) AS n_events,
       round(coalesce(b.acctbal, 0.0), 2) AS acctbal,
       CASE WHEN a.n_events IS NULL THEN 'dim_only'
            WHEN b.acctbal IS NULL THEN 'fact_only'
            ELSE 'both' END AS presence
FROM activity a FULL OUTER JOIN accounts b ON a.key = b.key
"""


# -- EXCEPT ALL (multiset difference) --------------------------------------
def q_multiset_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exceptAll preserves multiplicity — (partkey, suppkey) pairs from
    line 1 minus line 2, keeping duplicate counts (vs the distinct
    semantics of the symmetric-difference change detector)."""
    li = t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_linenumber") == 1).select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    )
    l2 = li.filter(F.col("l_linenumber") == 2).select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    )
    return l1.exceptAll(l2)


_EXCEPT_ALL_SQL = """
SELECT l_partkey AS partkey, l_suppkey AS suppkey
FROM lineitem WHERE l_linenumber = 1
EXCEPT ALL
SELECT l_partkey AS partkey, l_suppkey AS suppkey
FROM lineitem WHERE l_linenumber = 2
"""


# -- INTERSECT ALL (multiset intersection) ---------------------------------
def q_multiset_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll keeps min(multiplicity) copies of each (partkey,
    suppkey) pair common to line 1 and line 2 — the multiset dual of
    multiset_except_all, completing the bag-semantics set-op surface
    (UNION ALL / EXCEPT ALL / INTERSECT ALL). Physical shape: one shuffle
    on the pair key with per-side partial counts — no pairwise join."""
    li = t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_linenumber") == 1).select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    )
    l2 = li.filter(F.col("l_linenumber") == 2).select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    )
    return l1.intersectAll(l2)


_INTERSECT_ALL_SQL = """
SELECT l_partkey AS partkey, l_suppkey AS suppkey
FROM lineitem WHERE l_linenumber = 1
INTERSECT ALL
SELECT l_partkey AS partkey, l_suppkey AS suppkey
FROM lineitem WHERE l_linenumber = 2
"""


# -- §3.2 composite: the location-refresh subflow shape --------------------
def q_location_refresh_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cities⋈provinces left join + snapshot diff, on testdata analogs.

    nation = cities, region = provinces; the 'old snapshot' simulates drift
    by omitting every 7th nation — the diff must surface exactly those as
    'left_only' rows, mirroring weather_data_fetcher.py:349-399.
    """
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").withColumnRenamed("r_name", "province_name")
    merged = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(F.col("n_name").alias("location_name"), "province_name")
    )
    old = (
        t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") % 7 != 0)
        .join(
            F.broadcast(t(spark, sf_dir, "region").withColumnRenamed("r_name", "province_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left",
        )
        .select(F.col("n_name").alias("location_name"), "province_name")
    )
    return symmetric_difference(merged, old, ["location_name", "province_name"])


_LOCATION_REFRESH_SQL = """
WITH merged AS (
  SELECT n_name AS location_name, r_name AS province_name
  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey),
old AS (
  SELECT n_name AS location_name, r_name AS province_name
  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
  WHERE n_nationkey % 7 <> 0)
SELECT m.location_name, m.province_name, 'left_only' AS diff_side
FROM merged m WHERE NOT EXISTS (
  SELECT 1 FROM old o
  WHERE o.location_name IS NOT DISTINCT FROM m.location_name
    AND o.province_name IS NOT DISTINCT FROM m.province_name)
UNION ALL
SELECT o.location_name, o.province_name, 'right_only' AS diff_side
FROM old o WHERE NOT EXISTS (
  SELECT 1 FROM merged m
  WHERE m.location_name IS NOT DISTINCT FROM o.location_name
    AND m.province_name IS NOT DISTINCT FROM o.province_name)
"""


# -- §4.2: salted shuffle join on a hot low-cardinality key ----------------
def q_salted_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per priority tier through operators.skew.salted_join: the
    join key (o_orderpriority, 5 distinct values) is the canonical hot-key
    shuffle pathology — unsalted, at most 5 reducers do all the work
    regardless of cluster size. The salt spreads each hot key over
    n_salt composite keys; SHUFFLE_HASH keeps the planner from
    broadcasting the dim (which would silently bypass the salted path).
    Result-identity with the plain join is pinned in tests/test_skew.py;
    the salt never changes values, so the oracle is the plain SQL join."""
    from ..operators.skew import salted_join

    orders = t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    prio_dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("tier", F.substring("o_orderpriority", 1, 1))
    )
    joined = salted_join(
        orders, prio_dim, on=["o_orderpriority"], n_salt=8, force_shuffle=True
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # finite() money contract (round-8 money sweep)
        (F.sum(F.round(finite("o_totalprice") * 100).cast("long")) / 100.0).alias(
            "total_revenue"
        ),
    )


_SALTED_SQL = f"""
WITH dim AS (
  SELECT DISTINCT o_orderpriority, substr(o_orderpriority, 1, 1) AS tier
  FROM orders)
SELECT tier, count(*) AS n_orders,
       sum(CAST(round(({finite_sql('o_totalprice')}) * 100) AS BIGINT)) / 100.0
         AS total_revenue
FROM orders JOIN dim USING (o_orderpriority)
GROUP BY tier
"""


# -- SCD2 merge plan: classify snapshot vs dim, emit close/insert actions ---
def q_scd2_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) maintenance as a pure plan: diff
    the incoming snapshot against the current dimension and emit the MERGE
    action set — 'close' the old version of changed keys, 'insert' changed
    and brand-new keys. The incoming snapshot is simulated deterministically
    from `customer` (every 7th key gets a segment flip + balance bump, every
    13th key is 'new'). One full-outer equi-join on the business key +
    map-side comparison — the shape Delta/Iceberg MERGE compiles to, with
    no row-by-row upsert loop (the reference's per-row insert loop,
    wdf.py:300-330, is the anti-pattern this replaces)."""
    cur = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    inc = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("RELOCATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.round(
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 7 == 0, F.lit(100.0)).otherwise(F.lit(0.0)),
            2,
        ).alias("acctbal"),
    )
    j = cur.alias("d").join(inc.alias("s"), "key", "full_outer")
    changed = (
        F.col("d.segment").isNotNull()
        & F.col("s.segment").isNotNull()
        & (
            (F.col("d.segment") != F.col("s.segment"))
            | (F.col("d.acctbal") != F.col("s.acctbal"))
        )
    )
    new = F.col("d.segment").isNull()
    actions = j.select(
        "key",
        F.coalesce(F.col("s.segment"), F.col("d.segment")).alias("segment"),
        F.coalesce(F.col("s.acctbal"), F.col("d.acctbal")).alias("acctbal"),
        F.when(changed, F.lit("close+insert"))
        .when(new, F.lit("insert"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )
    return actions


_SCD2_SQL = """
WITH cur AS (
  SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS acctbal
  FROM customer WHERE c_custkey % 13 <> 0),
inc AS (
  SELECT c_custkey AS key,
         CASE WHEN c_custkey % 7 = 0 THEN 'RELOCATED' ELSE c_mktsegment END AS segment,
         round(c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END, 2)
           AS acctbal
  FROM customer)
SELECT COALESCE(cur.key, inc.key) AS key,
       COALESCE(inc.segment, cur.segment) AS segment,
       COALESCE(inc.acctbal, cur.acctbal) AS acctbal,
       CASE WHEN cur.segment IS NOT NULL AND inc.segment IS NOT NULL
                 AND (cur.segment <> inc.segment OR cur.acctbal <> inc.acctbal)
            THEN 'close+insert'
            WHEN cur.segment IS NULL THEN 'insert'
            ELSE 'keep' END AS action
FROM cur FULL OUTER JOIN inc ON cur.key = inc.key
"""


# -- SCD2 merge APPLY: post-merge dimension state (VERDICT r05 #4) ----------
def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTES the merge the plan above only classifies: operators.scd2
    .scd2_apply over a versioned dimension (current rows = the %13 subset
    at epoch 0, plus closed LEGACY history rows for the %11 subset — so
    the history-passthrough branch is exercised) and the same simulated
    snapshot as scd2_merge_plan, at epoch 1. One full-outer join on the
    business key; the 1-or-2 rows per key come from a single inline
    explode, so no per-action re-join. The atomic write-next-then-promote
    path and the apply-twice-equals-apply-once idempotence law are pinned
    in tests/test_scd2_apply.py."""
    from ..operators.scd2 import scd2_apply

    base = t(spark, sf_dir, "customer")
    cur = base.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit(0).cast("int").alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist = base.filter(
        (F.col("c_custkey") % 13 != 0) & (F.col("c_custkey") % 11 == 0)
    ).select(
        F.col("c_custkey").alias("key"),
        F.lit("LEGACY").alias("segment"),
        F.lit(0.0).alias("acctbal"),
        F.lit(-1).cast("int").alias("valid_from"),
        F.lit(0).cast("int").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    snapshot = base.select(
        F.col("c_custkey").alias("key"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("RELOCATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.round(
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 7 == 0, F.lit(100.0)).otherwise(F.lit(0.0)),
            2,
        ).alias("acctbal"),
    )
    return scd2_apply(
        cur.unionByName(hist), snapshot, ["key"], ["segment", "acctbal"], epoch=1
    )


_SCD2_APPLY_SQL = """
WITH cur AS (
  SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS acctbal
  FROM customer WHERE c_custkey % 13 <> 0),
inc AS (
  SELECT c_custkey AS key,
         CASE WHEN c_custkey % 7 = 0 THEN 'RELOCATED' ELSE c_mktsegment END AS segment,
         round(c_acctbal + CASE WHEN c_custkey % 7 = 0 THEN 100.0 ELSE 0.0 END, 2)
           AS acctbal
  FROM customer),
j AS (
  SELECT cur.key AS dkey, inc.key AS skey,
         cur.segment AS dseg, cur.acctbal AS dbal,
         inc.segment AS sseg, inc.acctbal AS sbal,
         (cur.key IS NOT NULL AND inc.key IS NOT NULL
          AND (cur.segment IS DISTINCT FROM inc.segment
               OR cur.acctbal IS DISTINCT FROM inc.acctbal)) AS changed
  FROM cur FULL OUTER JOIN inc ON cur.key = inc.key)
SELECT dkey AS key, dseg AS segment, dbal AS acctbal,
       0 AS valid_from, 1 AS valid_to, false AS is_current
FROM j WHERE changed                                    -- closed old versions
UNION ALL
SELECT skey AS key, sseg AS segment, sbal AS acctbal,
       1 AS valid_from, CAST(NULL AS INTEGER) AS valid_to, true AS is_current
FROM j WHERE changed OR dkey IS NULL                    -- re-inserts + new keys
UNION ALL
SELECT dkey AS key, dseg AS segment, dbal AS acctbal,
       0 AS valid_from, CAST(NULL AS INTEGER) AS valid_to, true AS is_current
FROM j WHERE dkey IS NOT NULL AND NOT changed           -- unchanged currents
UNION ALL
SELECT c_custkey AS key, 'LEGACY' AS segment, 0.0 AS acctbal,
       -1 AS valid_from, 0 AS valid_to, false AS is_current
FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 11 = 0
"""


ENTRIES: dict[str, Q] = {
    "scd2_merge_plan": Q(
        q_scd2_merge_plan, _SCD2_SQL, "SCD2 snapshot-vs-dim MERGE action set"
    ),
    "scd2_apply": Q(
        q_scd2_apply, _SCD2_APPLY_SQL, "post-merge SCD2 dimension state"
    ),
    "salted_skew_join_agg": Q(
        q_salted_priority_revenue, _SALTED_SQL, "salted hot-key shuffle join"
    ),
    "flagship_latest_obs": Q(q_flagship_latest_obs, _FLAGSHIP_SQL, "latest obs per key ⋈ dims"),
    "pricing_summary": Q(q_pricing_summary, _PRICING_SQL, "TPC-H Q1-shape groupBy agg"),
    "project_rename_cast": Q(q_project_rename_cast, _PROJECT_SQL, "P1-P3,P6"),
    "filter_null_predicates": Q(q_filter_null_predicates, _FILTER_SQL, "P4-P5"),
    "left_join_broadcast": Q(q_left_join_broadcast, _LEFT_JOIN_SQL, "J1"),
    "inner_fk_join": Q(q_inner_fk_join, _INNER_FK_SQL, "J3"),
    "symmetric_diff": Q(q_symmetric_diff, _SYMDIFF_SQL, "J2 change detection"),
    "dense_ids": Q(q_dense_ids, _DENSE_IDS_SQL, "§2.12 identity keys"),
    "latest_event_per_user": Q(q_latest_event_per_user, _LATEST_SQL, "W2/A2"),
    "first_match_priority": Q(q_first_match_priority, _FIRST_MATCH_SQL, "J4/F5 ladder"),
    "hourly_window_agg": Q(q_hourly_window_agg, _HOURLY_SQL, "tumbling window"),
    "daily_minmax": Q(q_daily_minmax, _DAILY_SQL, "daily analytics"),
    "topk_orders_per_segment": Q(q_topk_orders_per_segment, _TOPK_SQL, "top-k per group"),
    "revenue_by_nation": Q(
        q_revenue_by_nation, _REVENUE_BY_NATION_SQL, "TPC-H Q5-shape multi-join rollup"
    ),
    "priority_count_semi": Q(
        q_priority_count_semi, _PRIORITY_SEMI_SQL, "left-semi exists aggregate"
    ),
    "promo_revenue_share": Q(
        q_promo_revenue_share, _PROMO_SQL, "TPC-H Q14-shape conditional agg"
    ),
    "full_outer_reconciliation": Q(
        q_full_outer_reconciliation, _FULL_OUTER_SQL, "full outer with side flags"
    ),
    "multiset_except_all": Q(
        q_multiset_except_all, _EXCEPT_ALL_SQL, "EXCEPT ALL multiset diff"
    ),
    "multiset_intersect_all": Q(
        q_multiset_intersect_all, _INTERSECT_ALL_SQL, "INTERSECT ALL multiset"
    ),
    "location_refresh_diff": Q(
        q_location_refresh_diff, _LOCATION_REFRESH_SQL, "§3.2 composite subflow"
    ),
}
