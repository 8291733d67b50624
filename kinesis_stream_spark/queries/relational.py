"""Relational operator inventory (SURVEY.md §2.3 rows: scan, projection/
filter, joins, aggregation, window functions, sort/limit/top-k, set ops).

The reference delegates all of this to the host streaming framework
(`examples/src/main/scala/Main.scala:18-23` composes source → commit →
map → sink); here it is the native DataFrame surface. Every query is
declarative so Catalyst owns pushdown/pruning/join strategy; small dims
are explicitly `broadcast()` where the stats alone wouldn't prove it.

Scale notes (100 TB):
- fact⋈fact joins (lineitem⋈orders) shuffle on the join key — at scale
  both sides would be bucketed on orderkey to make this a co-located
  join; AQE skew-join splits hot keys.
- dim joins (nation/region/supplier/part) are broadcast — no shuffle.
- top-k per group uses window + filter (one shuffle, no global sort);
  global sort+limit uses Spark's TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_stream_spark.operators.profile import (
    fd_profile,
    sql_benford_audit,
    sql_chisq_independence,
    sql_cdc_apply,
    sql_fd_profile,
    sql_numeric_correlations,
)
from kinesis_stream_spark.operators.layout import sql_zorder_census
from kinesis_stream_spark.operators.skew import (
    key_concentration_deciles,
    sql_abc_classification,
    sql_key_concentration_deciles,
    sql_quantile_normalize,
)
from kinesis_stream_spark.queries import make_q
from kinesis_stream_spark.queries._util import davg, dsum, sql_davg, sql_dsum
from kinesis_stream_spark.sources.batch import load_table

QUERIES = {}
ORACLE = {}


_q = make_q(QUERIES, ORACLE)


# ---------------------------------------------------------------------------
# Flagship multi-operator queries (scan → filter → join → agg → sort)
# ---------------------------------------------------------------------------


@_q(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide scan-side filter + 8-way hash aggregate.

    Plan check: filter pushed to parquet scan; partial aggregation
    (map-side combine) before the exchange on (returnflag, linestatus).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "q03_shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → agg → top-10.

    customer(filtered) is small → broadcast into orders; orders⋈lineitem
    shuffles on orderkey (bucket-by-orderkey co-locates it at scale).
    Global top-10 runs as TakeOrderedAndProject, never a full sort.
    """
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@_q(
    "q05_regional_revenue",
    f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; all dims broadcast, facts shuffle once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@_q(
    "q04_priority_late_items",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_priority_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: late = shipped >60 days after order date —
    this schema has no commit/receipt dates): correlated EXISTS with an
    inequality → left-semi join with an equi key plus a non-equi residual.
    The semi join never multiplies rows, so the agg input stays at
    orders-cardinality regardless of lineitems per order.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_q(
    "q06_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.06
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, no joins, no groups.

    Plan check: all four predicates reach the parquet scan as
    PushedFilters; the global agg is partial map-side then a single-row
    exchange — the minimal possible shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "q10_returned_revenue",
    f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-items revenue per customer, top 20.
    Fact⋈fact shuffles on orderkey; customer and nation broadcast; the
    final top-20 is TakeOrderedAndProject (no global sort)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "q11_top_suppliers",
    f"""
    WITH revs AS (
      SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, revenue
    FROM revs JOIN supplier ON l_suppkey = s_suppkey
    WHERE revenue > (SELECT {sql_davg('revenue', 'a')} FROM revs) * 1.1
    ORDER BY revenue DESC, s_suppkey
    """,
)
def q11_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11/Q15 shape: aggregate, then filter against a scalar
    aggregate of that same aggregate (suppliers above 1.1× mean revenue).
    The scalar lands as a single-row broadcast — no shuffle added."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revs = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )
    thresh = revs.agg(davg("revenue", "a"))
    return (
        revs.join(F.broadcast(thresh))
        .where(F.col("revenue") > F.col("a") * 1.1)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
    )


@_q(
    "q14_promo_revenue",
    f"""
    SELECT 100.0 * promo / total AS promo_pct, promo AS promo_revenue
    FROM (
      SELECT
        {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 'promo')},
        {sql_dsum('l_extendedprice * (1 - l_discount)', 'total')}
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
    )
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a dim join.
    part broadcasts; both sums accumulate exact decimal so the final
    single IEEE divide is cross-engine deterministic."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            dsum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0)), "promo"),
            dsum(disc_price, "total"),
        )
        .select(
            (F.lit(100.0) * F.col("promo") / F.col("total")).alias("promo_pct"),
            F.col("promo").alias("promo_revenue"),
        )
    )


@_q(
    "q18_large_quantity_orders",
    f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity', 'sum_qty')}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery → left-semi
    join on the aggregated keys; both lineitem passes shuffle on
    orderkey, so at scale bucketing lineitem by orderkey makes the
    second pass co-located."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).alias("q"))
        .where(F.col("q") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.big_orderkey, "left_semi")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@_q(
    "q19_disjunctive_predicates",
    f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common single-side conjuncts (brand IN (...), quantity
    range) below the join, so the scan prunes before pairing."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 35)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return j.where(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Join family
# ---------------------------------------------------------------------------


@_q(
    "join_inner_orders_customer",
    """
    SELECT c_nationkey, o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey, o_orderstatus
    ORDER BY c_nationkey, o_orderstatus
    """,
)
def join_inner_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
        .orderBy("c_nationkey", "o_orderstatus")
    )


@_q(
    "join_left_customer_orders",
    """
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    """,
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@_q(
    "join_semi_customers_with_urgent",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
)
def join_semi_customers_with_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≡ EXISTS: no row multiplication, build side deduped."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@_q(
    "join_anti_customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≡ NOT EXISTS."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@_q(
    "join_full_nation_activity",
    """
    WITH cust_n AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
                    FROM customer GROUP BY c_nationkey),
         supp_n AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
                    FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cust_n.nk, supp_n.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM cust_n FULL OUTER JOIN supp_n ON cust_n.nk = supp_n.nk
    ORDER BY nationkey
    """,
)
def join_full_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_n = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust_n.join(supp_n, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@_q(
    "join_range_events_orders_window",
    """
    SELECT e.user_id, COUNT(*) AS n_pairs,
           CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN events f
      ON e.user_id = f.user_id
     AND f.ts > e.ts
     AND f.ts <= e.ts + INTERVAL 10 MINUTE
     AND e.event_type = 'click' AND f.event_type = 'purchase'
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
)
def join_range_events_orders_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchase within 10 min after a click by the same user.

    Equi-key (user_id) carries the shuffle; the range predicate is
    evaluated post-join — at 100 TB add time-bucketing on both sides so
    the range condition also prunes (bucket = floor(ts/10min), join on
    bucket ∈ {b, b+1}).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("value")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    return (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user_id)
            & (purchases.p_ts > clicks.c_ts)
            & (purchases.p_ts <= clicks.c_ts + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"), dsum("value", "sum_value"))
        .orderBy("user_id")
    )


@_q(
    "join_asof_last_click_before_purchase",
    """
    WITH pairs AS (
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             c.ts AS click_ts, c.event_id AS click_event_id,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM events p
      JOIN events c ON c.user_id = p.user_id AND c.ts <= p.ts
                    AND c.event_type = 'click'
      WHERE p.event_type = 'purchase'
    )
    SELECT event_id, user_id, purchase_ts, click_ts, click_event_id
    FROM pairs WHERE rn = 1
    ORDER BY event_id
    """,
)
def join_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent click at or before each purchase).

    Spark has no native ASOF JOIN; implemented as equi-join on the key +
    range predicate + row_number pick. At scale, replace with the
    union-and-last-over-window formulation (single shuffle, no row
    multiplication):  union both sides, window last(click) ignoring
    nulls ordered by ts per user. Both forms are provided; this one is
    the oracle-checkable default. Reference analog: per-shard ordered
    merge (SURVEY §1.1).
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
    )
    w = Window.partitionBy("event_id").orderBy(F.desc("click_ts"), F.desc("click_event_id"))
    return (
        purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user_id) & (clicks.click_ts <= purchases.purchase_ts),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "purchase_ts", "click_ts", "click_event_id")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Aggregation family
# ---------------------------------------------------------------------------


@_q(
    "agg_distinct_counts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregate (expands to Spark's expand+two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "agg_rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@_q(
    "agg_cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@_q(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets via the SQL surface (Spark parses ANSI GROUPING SETS)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@_q(
    "window_rank_suppliers",
    """
    SELECT s_nationkey, s_suppkey, s_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_nationkey, rn
    """,
)
def window_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    ).orderBy("s_nationkey", "rn")


@_q(
    "window_lag_lead_orders",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           FIRST_VALUE(o_totalprice) OVER w AS first_price
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def window_lag_lead_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


@_q(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_sum3
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames (running + sliding) with exact decimal accumulation."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    price_dec = F.col("o_totalprice").cast("decimal(27,6)")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_dec)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
        F.sum(price_dec)
        .over(w.rowsBetween(-2, Window.currentRow))
        .cast("double")
        .alias("moving_sum3"),
    ).orderBy("o_custkey", "o_orderkey")


@_q(
    "topk_parts_per_brand",
    """
    WITH ranked AS (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part)
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM ranked WHERE rn <= 3
    ORDER BY p_brand, rn
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: window + filter — one shuffle, no global sort."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
        .orderBy("p_brand", "rn")
    )


@_q(
    "sort_limit_top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100: Spark plans TakeOrderedAndProject (per-partition
    heap + merge on driver), never a full global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@_q(
    "set_union_all_keys",
    """
    SELECT nk, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nk FROM customer
      UNION ALL
      SELECT s_nationkey AS nk FROM supplier
    ) GROUP BY nk ORDER BY nk
    """,
)
def set_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return cust.unionAll(supp).groupBy("nk").agg(F.count(F.lit(1)).alias("n")).orderBy("nk")


@_q(
    "set_intersect_nations",
    """
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
    ORDER BY nk
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nk"))
    )
    return cust.intersect(supp).orderBy("nk")


@_q(
    "set_except_nations",
    """
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY nk
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    # subtract == ANSI EXCEPT (set semantics); exceptAll would keep
    # multiplicity (bag semantics) and over-report repeated keys.
    return cust.subtract(supp).orderBy("nk")


# ---------------------------------------------------------------------------
# SQL surface (subqueries through Spark's own parser)
# ---------------------------------------------------------------------------


@_q(
    "sql_scalar_subquery_above_avg",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.9 FROM orders)
    ORDER BY o_orderkey
    """,
)
def sql_scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery via spark.sql. AVG here is a predicate threshold,
    not an output value, so float-sum ordering can't flip results unless
    a row sits within ~1e-9 of the cut — accepted."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.9 FROM orders)
        ORDER BY o_orderkey
        """
    )


@_q(
    "sql_in_subquery_parts_in_asia_orders",
    """
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (
      SELECT l_partkey FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT' AND l_quantity > 45
    )
    ORDER BY p_partkey
    """,
)
def sql_in_subquery_parts_in_asia_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (
          SELECT l_partkey FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority = '1-URGENT' AND l_quantity > 45
        )
        ORDER BY p_partkey
        """
    )


# ---------------------------------------------------------------------------
# Reshaping + distribution + remaining join/set variants
# ---------------------------------------------------------------------------


@_q(
    "pivot_status_by_flag",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(27,6)) END) AS DOUBLE) AS f_qty,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(27,6)) END) AS DOUBLE) AS o_qty,
           CAST(SUM(CASE WHEN l_linestatus = 'P'
                    THEN CAST(l_quantity AS DECIMAL(27,6)) END) AS DOUBLE) AS p_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit values (no extra distinct-values
    job — at scale, always pass the pivot domain) ≡ conditional
    aggregation; the oracle states that equivalence."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O", "P"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double"))
    )
    return piv.select(
        "l_returnflag",
        F.col("F").alias("f_qty"),
        F.col("O").alias("o_qty"),
        F.col("P").alias("p_qty"),
    ).orderBy("l_returnflag")


@_q(
    "agg_exact_percentiles",
    """
    SELECT l_returnflag,
           QUANTILE_CONT(l_quantity, 0.25) AS qty_p25,
           QUANTILE_CONT(l_quantity, 0.5) AS qty_p50,
           QUANTILE_CONT(l_quantity, 0.75) AS qty_p75,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles, projected to scalar columns
    (array-typed results crash tabular canonicalizers — r1 finding).

    Cross-engine exactness: l_quantity values are small whole numbers and
    the quantile fractions are exact binaries (.25/.5/.75), so the linear
    interpolation is IEEE-exact under either lo+(hi-lo)*f or
    lo*(1-f)+hi*f — engine formula differences can't surface. At scale
    exact percentile is a sort-based aggregate; approx_percentile is the
    100 TB tool (not oracle-checkable: sketch internals differ). One
    percentile() agg computes all three fractions in a single pass;
    element_at projection is free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").alias("_qs"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .select(
            "l_returnflag",
            F.element_at("_qs", 1).alias("qty_p25"),
            F.element_at("_qs", 2).alias("qty_p50"),
            F.element_at("_qs", 3).alias("qty_p75"),
            "min_qty",
            "max_qty",
        )
        .orderBy("l_returnflag")
    )


@_q(
    "window_ntile_nth_value",
    """
    SELECT s_suppkey, s_acctbal,
           NTILE(4) OVER w AS quartile,
           NTH_VALUE(s_suppkey, 2) OVER
             (PARTITION BY s_nationkey % 5 ORDER BY s_acctbal DESC, s_suppkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_best,
           FIRST_VALUE(s_suppkey) OVER w AS best
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey % 5 ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_suppkey
    """,
)
def window_ntile_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / nth_value / first_value with a deterministic tiebreaker
    (unique key in the ORDER BY — mandatory for cross-engine equality)."""
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy(F.col("s_nationkey") % 5).orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return supp.select(
        "s_suppkey",
        "s_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.nth_value("s_suppkey", 2)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("second_best"),
        F.first("s_suppkey").over(w).alias("best"),
    ).orderBy("s_suppkey")


@_q(
    "window_percent_rank_cume",
    """
    SELECT s_suppkey, s_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           RANK() OVER w AS rnk
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey % 5 ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_suppkey
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist — the relative-position analytics pair
    completing the ranking-function family. Both are single integer
    divides of rank/row counts ((rank-1)/(n-1), peers/n), identical by
    definition on any engine given the unique-key tiebreaker."""
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy(F.col("s_nationkey") % 5).orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return supp.select(
        "s_suppkey",
        "s_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.rank().over(w).alias("rnk"),
    ).orderBy("s_suppkey")


@_q(
    "reshape_unpivot_part_dims",
    """
    SELECT p_partkey, dim_name, dim_value FROM (
      SELECT p_partkey, 'size' AS dim_name,
             CAST(p_size AS DOUBLE) AS dim_value FROM part
      UNION ALL
      SELECT p_partkey, 'retail', p_retailprice FROM part
      UNION ALL
      SELECT p_partkey, 'name_len', CAST(LENGTH(p_name) AS DOUBLE) FROM part
    )
    WHERE dim_value > 10
    ORDER BY p_partkey, dim_name
    """,
)
def reshape_unpivot_part_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native ``unpivot`` operator (one scan,
    no self-union: Expand emits the melted rows map-side) with a
    post-melt filter. The long format is what per-metric aggregation,
    plotting, and feature stores consume; the oracle states the same
    relation as an explicit UNION ALL melt. At scale unpivot beats
    union-of-scans K× on scan volume for K melted columns."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retail"),
        F.length("p_name").cast("double").alias("name_len"),
    )
    return (
        part.unpivot(
            ["p_partkey"],
            ["size", "retail", "name_len"],
            "dim_name",
            "dim_value",
        )
        .where(F.col("dim_value") > 10)
        .orderBy("p_partkey", "dim_name")
    )


@_q(
    "reshape_pivot_priority_year",
    """
    SELECT o_orderpriority AS priority,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 1995) AS y1995_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 1995) AS DOUBLE) AS y1995_rev,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 1996) AS y1996_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 1996) AS DOUBLE) AS y1996_rev,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 1997) AS y1997_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 1997) AS DOUBLE) AS y1997_rev,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 1998) AS y1998_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 1998) AS DOUBLE) AS y1998_rev,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 1999) AS y1999_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 1999) AS DOUBLE) AS y1999_rev,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 2000) AS y2000_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 2000) AS DOUBLE) AS y2000_rev,
           COUNT(*) FILTER (WHERE YEAR(o_orderdate) = 2001) AS y2001_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE YEAR(o_orderdate) = 2001) AS DOUBLE) AS y2001_rev
    FROM orders
    GROUP BY 1
    ORDER BY priority
    """,
)
def reshape_pivot_priority_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide reshape via the native ``pivot`` operator: order
    counts and exact-decimal revenue per (priority × order-year) cell,
    pivoted into one row per priority. The pivot values are EXPLICIT
    (1995-2001) — with an enumerated domain Spark compiles the pivot
    into ONE hash aggregate over the single scan (PivotFirst), instead
    of first running a distinct-values job and then the aggregate; at
    100 TB the enumerated form halves the scan count and keeps the
    plan static. Rows with NULL order dates match no pivot cell on
    either engine; empty count cells coalesce to 0 (the FILTER
    aggregate convention), empty revenue cells stay NULL."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").alias("yr"),
        "o_totalprice",
    )
    pv = (
        o.groupBy("priority")
        .pivot("yr", [1995, 1996, 1997, 1998, 1999, 2000, 2001])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("rev"),
        )
    )
    cols = [F.col("priority")]
    for y in [1995, 1996, 1997, 1998, 1999, 2000, 2001]:
        cols.append(
            F.coalesce(F.col(f"`{y}_n`"), F.lit(0)).alias(f"y{y}_n")
        )
        cols.append(F.col(f"`{y}_rev`").alias(f"y{y}_rev"))
    return pv.select(*cols).orderBy("priority")


@_q(
    "layout_zorder_census_parts",
    sql_zorder_census(
        source_cte=(
            "SELECT p_size AS x,"
            " CAST(FLOOR(p_retailprice) AS BIGINT) AS y FROM part"
        ),
        bucket_bits=8,
    )
    + " ORDER BY zbucket",
)
def layout_zorder_census_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout census over part (size × price): bucket
    rows by the interleaved key's high bits — each bucket's x/y
    extents are the min/max file stats an OPTIMIZE ZORDER write would
    give a reader, and the census shows they form rectangles (both
    columns prune). Pure BIGINT bit arithmetic, map-only keying
    (operators/layout.py)."""
    from kinesis_stream_spark.operators.layout import zorder_census

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("x"),
        F.floor("p_retailprice").cast("long").alias("y"),
    )
    return zorder_census(
        part, x_col="x", y_col="y", bucket_bits=8
    ).orderBy("zbucket")


@_q(
    "agg_abc_classification",
    sql_abc_classification(
        facts_cte=(
            "SELECT l_partkey AS key,"
            " l_extendedprice * (1 - l_discount) AS v FROM lineitem"
        ),
    )
    + " ORDER BY key",
)
def agg_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by discounted revenue:
    exact micro-unit integer revenue, running cumulative share via the
    distributed prefix sum (no single-partition window), integer-ppm
    thresholds A ≤ 80% / B ≤ 95% / C — bit-stable classification
    (operators/skew.py)."""
    from kinesis_stream_spark.operators.skew import abc_classification

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey"),
        "l_extendedprice",
        "l_discount",
    )
    return abc_classification(
        li, key_col="l_partkey",
        value_expr="l_extendedprice * (1 - l_discount)",
    ).orderBy("key")


@_q(
    "join_right_lineitem_part",
    """
    SELECT p_partkey, p_brand, COUNT(l_orderkey) AS n_lineitems
    FROM (SELECT * FROM lineitem WHERE l_quantity > 48) l
    RIGHT JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_brand
    ORDER BY p_partkey
    """,
)
def join_right_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving parts with no matching lineitems
    (COUNT of a nullable key counts only real matches)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 48)
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey, "right")
        .groupBy("p_partkey", "p_brand")
        .agg(F.count("l_orderkey").alias("n_lineitems"))
        .orderBy("p_partkey")
    )


@_q(
    "set_bag_semantics",
    """
    SELECT nk, cnt FROM (
      SELECT nk, COUNT(*) AS cnt FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 8000
        INTERSECT ALL
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 0
      ) GROUP BY nk
      UNION ALL
      SELECT nk + 1000 AS nk, COUNT(*) AS cnt FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 8000
        EXCEPT ALL
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 0
      ) GROUP BY nk
    )
    ORDER BY nk
    """,
)
def set_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (multiplicity-preserving set ops) —
    the bag-semantics complement of the distinct set-op queries."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 8000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 0)
        .select(F.col("s_nationkey").alias("nk"))
    )
    inter = cust.intersectAll(supp).groupBy("nk").agg(F.count(F.lit(1)).alias("cnt"))
    exc = (
        cust.exceptAll(supp)
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select((F.col("nk") + 1000).alias("nk"), "cnt")
    )
    return inter.unionAll(exc).orderBy("nk")


# ---------------------------------------------------------------------------
# Sampling + sketches (the 100 TB estimation surface)
# ---------------------------------------------------------------------------


@_q(
    "sample_hash_deterministic",
    """
    SELECT COUNT(*) AS n_sampled,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) AS sampled_price,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM lineitem
    WHERE CAST(('0x' || SUBSTR(MD5(CONCAT_WS('|', l_orderkey, l_linenumber)), 1, 15))
               AS BIGINT) % 100 < 10
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample by key hash — the scale-correct sampling
    primitive: reproducible across engines, runs, partitionings, and
    retries (df.sample's RNG is none of those), stable under appends,
    and a pure map-side filter. This is how a 100 TB pipeline takes
    auditable subsets for eval sets or quality probes."""
    from kinesis_stream_spark.functions.hashing import md5_int64

    li = load_table(spark, sf_dir, "lineitem")
    bucket = md5_int64(F.concat_ws("|", "l_orderkey", "l_linenumber")) % 100
    return li.where(bucket < 10).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        dsum("l_extendedprice", "sampled_price"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _sql_profile_orders() -> str:
    from kinesis_stream_spark.operators.profile import sql_profile_columns

    return (
        "SELECT * FROM ("
        + sql_profile_columns("orders", _PROFILE_COLS)
        + ") ORDER BY column_name"
    )


@_q("profile_orders_columns", _sql_profile_orders())
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the orders table (null count + exact
    distinct cardinality per column) — the trust-but-verify pass an
    ingestion pipeline runs on every new data drop. One scan, one
    aggregate (the N exact distincts share a single Expand), stack
    unpivot."""
    from kinesis_stream_spark.operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(orders, _PROFILE_COLS).orderBy("column_name")


@_q(
    "agg_histogram_price",
    f"""
    SELECT CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice', 'bucket_price')}
    FROM lineitem
    GROUP BY 1
    ORDER BY bucket
    """,
)
def agg_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over l_extendedprice (10k-wide buckets) —
    the distribution-profiling primitive behind range partitioning
    choices, skew detection, and dashboard density plots. Bucketing is
    one IEEE divide + floor (deterministic on both engines), then a
    plain hash aggregate: map-side partial combine, ~tens of groups, no
    sort — at 100 TB this is a single scan with a trivial shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 10000.0).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", "bucket_price"),
        )
        .orderBy("bucket")
    )


@_q(
    "join_lateral_top2_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """,
)
def join_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT: each customer's
    two largest orders — the join form SQL users reach for before
    discovering window functions, supported verbatim by Spark's
    analyzer (it decorrelates to the same window/top-k plan under the
    hood). Registered through spark.sql on temp views — the SQL-surface
    entry path the DataFrame queries don't otherwise exercise."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


@_q(
    "agg_salted_skew_safe",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice', 'sum_l_extendedprice')},
           MIN(l_extendedprice) AS min_l_extendedprice,
           MAX(l_extendedprice) AS max_l_extendedprice
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_salted_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a genuinely hot key
    (l_returnflag has 3 values → a direct group-by funnels ~200k rows
    per reducer at sf0.1, and a third of the table to ONE task at any
    scale). The salt spreads each key over 16 reducers for the heavy
    phase; the second shuffle re-aggregates 3×16 partial rows — noise.
    The ORACLE is the plain GROUP BY: proof that salting changes the
    physical plan only, never a value (counts add exactly; sums stay in
    the exact-DECIMAL discipline end-to-end)."""
    from kinesis_stream_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        ["l_returnflag"],
        salt_col=F.concat_ws("|", "l_orderkey", "l_linenumber"),
        sum_col="l_extendedprice",
        n_salts=16,
    ).orderBy("l_returnflag")


@_q(
    "events_cohort_retention",
    """
    WITH w AS (SELECT user_id, EPOCH_US(ts) // 604800000000 AS wk FROM events),
    c AS (SELECT user_id, MIN(wk) AS cohort FROM w GROUP BY user_id)
    SELECT c.cohort AS cohort_week,
           w.wk - c.cohort AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_active
    FROM w JOIN c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted distinct in each subsequent week offset — the standard
    product-analytics retention triangle. Week indexes are integer
    floor-division of epoch MICROS by the week length (``div`` / ``//``
    — exact on both engines; a double divide near a week boundary could
    round the wrong way). Shape: one per-user min, one join back
    (broadcastable cohort table: one row per user… at 100 TB users ≫
    broadcast, so it stays a shuffle join on user_id, co-partitioned
    with the week extraction), one distinct aggregate."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.expr("unix_micros(cast(ts as timestamp)) div 604800000000")
    w = ev.select("user_id", wk.alias("wk"))
    c = w.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        w.join(c, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("wk") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def _sql_checksum() -> str:
    from kinesis_stream_spark.functions.hashing import sql_md5_int64

    okey = (
        "CONCAT_WS('|', o_orderkey, o_custkey, o_orderstatus, "
        "CAST(FLOOR(o_totalprice * 100) AS BIGINT), "
        "EPOCH_US(o_orderdate), o_orderpriority)"
    )
    lkey = (
        "CONCAT_WS('|', l_orderkey, l_partkey, l_suppkey, l_linenumber, "
        "CAST(FLOOR(l_extendedprice * 100) AS BIGINT), l_returnflag, "
        "EPOCH_US(l_shipdate))"
    )
    return f"""
    SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
           CAST(SUM(CAST({sql_md5_int64(okey)} AS DECIMAL(38,0))) AS VARCHAR)
             AS checksum
    FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*),
           CAST(SUM(CAST({sql_md5_int64(lkey)} AS DECIMAL(38,0))) AS VARCHAR)
    FROM lineitem
    ORDER BY table_name
    """


@_q("integrity_table_checksum", _sql_checksum())
def integrity_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints: per-row 60-bit md5 hash of
    a canonical key string, summed exactly as DECIMAL(38,0) — the
    cross-engine / cross-run integrity check a pipeline runs after a
    migration, backfill, or engine swap (one number answers "is the
    copy byte-equivalent?"). The canonical key avoids every formatting
    trap: only integers and stable strings are concatenated — doubles
    go through floor(x·100) fixed point and timestamps through epoch
    micros, because float/timestamp→string rendering differs across
    engines. Map-side hash + partial sums, no shuffle beyond the final
    1-row aggregate per table; checksum returned as a string (a 38-digit
    decimal overflows int64 consumers). At 100 TB this is the cheapest
    full-table verification that exists — one scan, a few bytes out."""
    from kinesis_stream_spark.functions.hashing import md5_int64

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    okey = F.concat_ws(
        "|",
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint"),
        # parquet NTZ → session-TZ timestamp is identity under the
        # pinned-UTC session; unix_micros only accepts TIMESTAMP
        F.unix_micros(F.col("o_orderdate").cast("timestamp")),
        "o_orderpriority",
    )
    lkey = F.concat_ws(
        "|",
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100).cast("bigint"),
        "l_returnflag",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")),
    )

    def cks(df, key, name):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(md5_int64(key).cast("decimal(38,0)"))
            .cast("string")
            .alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")

    return cks(orders, okey, "orders").unionByName(cks(li, lkey, "lineitem")).orderBy(
        "table_name"
    )


_DECILE_NUMS = list(range(1, 10))  # p = k/10


def _sql_equidepth() -> str:
    mins = ", ".join(
        f"MIN(CASE WHEN cum * 10 >= {k} * t.n THEN v END) AS b{k}"
        for k in _DECILE_NUMS
    )
    bucket = " + ".join(
        f"(CASE WHEN l.l_extendedprice > b.b{k} THEN 1 ELSE 0 END)"
        for k in _DECILE_NUMS
    )
    return f"""
    WITH vc AS (SELECT l_extendedprice AS v, COUNT(*) AS cnt
                FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
    cumt AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM vc),
    bounds AS (SELECT {mins} FROM cumt CROSS JOIN tot t)
    SELECT CAST({bucket} AS INT) AS bucket,
           COUNT(*) AS n_items,
           MIN(l.l_extendedprice) AS min_price,
           MAX(l.l_extendedprice) AS max_price
    FROM lineitem l CROSS JOIN bounds b
    GROUP BY 1
    ORDER BY bucket
    """


@_q("agg_equidepth_price", _sql_equidepth())
def agg_equidepth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram over l_extendedprice — the
    boundary structure engines keep as column statistics and range
    partitioners split on, complementing the fixed-width histogram.

    The decile boundary for p = k/10 is defined by the rational-rank
    rule ``min v: cum_count(v) · 10 ≥ k · N`` — pure integer
    arithmetic, so the rule replays bit-identically in any engine
    (no float rank p·N, no interpolation formula, and no dependence on
    an engine's own percentile implementation; 9 separate
    ``percentile_disc`` aggregates also each buffered the full column —
    measured 17 s vs ~3 s for this shape at sf0.1). Shape: distinct
    value counts (map-side combined) → DISTRIBUTED running count over
    the ~N_distinct rows (operators/skew.py ``distributed_cumsum`` —
    range-partitioned local windows + broadcast offsets; this replaced
    the earlier single-partition global window, which funneled the
    whole distinct-value frame through one reducer and was this query's
    only non-scaling stage) → 9 conditional MINs in one hash
    aggregate → broadcast the 1-row boundary array; bucket assignment
    is a map-side higher-order filter into a ~10-group aggregate.
    ``v`` is unique post-agg, so the distributed prefix is exactly the
    global one and the oracle is unchanged."""
    from kinesis_stream_spark.operators.skew import distributed_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    vc = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cumt = distributed_cumsum(vc, [F.col("v").asc()], "cnt", "cum").select(
        "v", "cum"
    )
    # N from a plain count over the scan — NOT from vc, whose distinct
    # shuffle would otherwise be computed twice (no subplan reuse
    # across the join)
    tot = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = cumt.crossJoin(F.broadcast(tot)).agg(
        *[
            F.min(
                F.when(F.col("cum") * 10 >= k * F.col("n"), F.col("v"))
            ).alias(f"_b{k}")
            for k in _DECILE_NUMS
        ]
    )
    # bucket = count of boundaries strictly below the value, as a plain
    # chained-comparison sum: 9 scalar comparisons stay in whole-stage
    # codegen, where a higher-order array filter with an outer-column
    # capture fell back to interpreted eval (measured ~4 s of the
    # original 15 s at sf0.1 in the assignment pass alone)
    bucket = sum(
        [
            F.when(F.col("l_extendedprice") > F.col(f"_b{k}"), 1).otherwise(0)
            for k in _DECILE_NUMS
        ],
        start=F.lit(0),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .orderBy("bucket")
    )


@_q(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           ROUND(approx_count_distinct(l_orderkey)
                 / CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) * 2) / 2 AS orders_ratio,
           ROUND(approx_quantile(l_extendedprice, 0.5)
                 / QUANTILE_CONT(l_extendedprice, 0.5) * 2) / 2 AS p50_ratio,
           ROUND(approx_quantile(l_extendedprice, 0.99)
                 / QUANTILE_CONT(l_extendedprice, 0.99) * 2) / 2 AS p99_ratio
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts and quantile sketches per return
    flag — the single-pass, fixed-memory estimators that replace their
    exact twins (agg_distinct_counts, agg_exact_percentiles) at 100 TB,
    where exact distinct shuffles every key and exact percentiles sort.

    Sketch *internals* are engine-specific (Spark HLL++/Greenwald-Khanna
    vs DuckDB HLL/t-digest), so raw estimates can never hash-match.
    What IS checkable cross-engine is the accuracy bound: both
    estimators are deterministic and well inside ±5% at these
    cardinalities, so ``round(approx/exact * 2) / 2`` is 1.0 in both
    engines — the exact twins are computed inside the same query on
    each side. That turns the sketch row into a real accuracy-bound
    oracle instead of a rows-only check (r2 verdict item #1). The
    half-unit bucket (boundaries at 0.75/1.25, not 0.95/1.05) leaves
    slack for DuckDB's t-digest, whose merge under parallel aggregation
    is not guaranteed run-deterministic — a p99 estimate drifting a few
    ulps near a 0.05 boundary must not flake the hash-match, while a
    genuinely broken sketch (>25% off) still fails.

    Exact and approx run as two separate single-pass aggregates over
    the scan, joined on the 3-row result: mixing a distinct aggregate
    (expand ×2) with sort-based percentile and the sketches in ONE
    aggregate forces everything through the expanded ObjectHashAggregate
    path — measured 23.2 s vs 2.9 s for the split at sf0.1. The 3-row
    join is broadcast; the scan runs twice, which at 100 TB is still
    the right trade (each pass stays in whole-stage codegen)."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.99))").alias("_eps"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_approx_orders"),
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.99), 10000)").alias(
            "_aps"
        ),
    )
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.round(
                    F.col("_approx_orders") / F.col("exact_orders").cast("double") * 2
                )
                / 2
            ).alias("orders_ratio"),
            (F.round(F.element_at("_aps", 1) / F.element_at("_eps", 1) * 2) / 2).alias(
                "p50_ratio"
            ),
            (F.round(F.element_at("_aps", 2) / F.element_at("_eps", 2) * 2) / 2).alias(
                "p99_ratio"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# TPC-H shapes II (Q7/Q8/Q13/Q17/Q22 adapted to this schema)
# ---------------------------------------------------------------------------


@_q(
    "q07_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume', 'revenue')}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             YEAR(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair filter across two
    different dimension paths of the same fact row, grouped by year.
    The OR across (supplier-nation, customer-nation) can't be pushed to
    either scan alone — Catalyst keeps it above both broadcast joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_q(
    "q08_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                    THEN CAST(volume AS DECIMAL(27,6)) ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(27,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT YEAR(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly revenue —
    conditional-sum / total-sum ratio per group, both sums exact decimal
    so the single final divide is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec_vol = F.col("volume").cast("decimal(27,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", dec_vol).otherwise(F.lit(0)))
                .cast("double")
                / F.sum(dec_vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_q(
    "q13_customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregate building a histogram of
    per-customer order counts; the join predicate lives in the OUTER
    join's ON clause (filtering there, not WHERE, preserves zero-order
    customers)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_q(
    "q17_small_quantity_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice', 'total_price')}, COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS avg_partkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l_quantity)
                   AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON p_partkey = avg_partkey
    WHERE p_brand = 'Brand#11' AND l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average decorrelated into a
    self-aggregate join — each lineitem compares against its part's mean
    quantity. The aggregate side shrinks to one row per part, so it
    broadcasts; at scale both lineitem passes bucket on partkey."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#11")
    avgs = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        davg("l_quantity", "avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avgs), F.col("p_partkey") == F.col("avg_partkey"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum("l_extendedprice", "total_price"), F.count(F.lit(1)).alias("n_items"))
    )


@_q(
    "q22_global_sales_opportunity",
    f"""
    SELECT seg, COUNT(*) AS numcust, {sql_dsum('c_acctbal', 'totacctbal')}
    FROM (
      SELECT SUBSTR(c_name, 1, 11) AS seg, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT {sql_davg('c_acctbal', 'a')} FROM customer
                         WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    )
    GROUP BY seg
    ORDER BY seg
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti-join,
    grouped by a name prefix (stands in for the phone country code)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    thresh = cust.where(F.col("c_acctbal") > 0).agg(davg("c_acctbal", "a"))
    return (
        cust.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(F.substring("c_name", 1, 11).alias("seg"), "c_acctbal")
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# TPC-H shapes III (Q2/Q9/Q12/Q15/Q16/Q21 adapted: no partsupp /
# commitdate / shipmode in the synthetic schema, so lineitem stands in
# as the part-supplier relation and "late" = shipped long after order)
# ---------------------------------------------------------------------------


@_q(
    "q02_min_cost_supplier",
    """
    SELECT s_acctbal, s_name, p_partkey, p_name
    FROM (
      SELECT DISTINCT s_acctbal, s_name, p_partkey, p_name
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN (SELECT l_partkey AS mk, MIN(l_extendedprice / l_quantity) AS min_unit
            FROM lineitem GROUP BY l_partkey) m
        ON p_partkey = mk
      WHERE p_size = 15 AND l_extendedprice / l_quantity = min_unit
    )
    ORDER BY s_acctbal DESC, s_name, p_partkey
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery (cheapest unit price per
    part) decorrelated into a per-part aggregate joined back against the
    detail rows. The aggregate side is one row per part → broadcast; at
    scale both lineitem passes bucket on partkey so neither shuffles.
    Unit price is a single IEEE division, identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") == 15)
    supp = load_table(spark, sf_dir, "supplier")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    mins = li.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_unit")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(mins), F.col("p_partkey") == F.col("mk"))
        .where(unit == F.col("min_unit"))
        .select("s_acctbal", "s_name", "p_partkey", "p_name")
        .distinct()
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
    )


@_q(
    "q09_product_type_profit",
    f"""
    SELECT n_name AS nation, o_year, {sql_dsum('amount', 'sum_profit')}
    FROM (
      SELECT n_name, YEAR(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity
               AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%bolt%'
    )
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: five-way join with a LIKE filter on the part
    name, profit per supplier-nation per year. p_retailprice * 0.1
    stands in for ps_supplycost (no partsupp table). The part filter
    prunes before the join; dims broadcast; the only shuffle is
    lineitem⋈orders plus the final (nation, year) aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.1) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@_q(
    "q12_late_shipment_priority",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional two-way count split by order
    priority over late shipments (shipped >60 days after order date —
    the synthetic schema has no commit/receipt dates or shipmode).
    Integer counts — no float determinism concerns."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


_Q15_REVENUE = f"""
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1995-04-01'
      GROUP BY l_suppkey
"""


@_q(
    "q15_top_supplier",
    f"""
    WITH revenue AS ({_Q15_REVENUE})
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, then the
    supplier(s) hitting the global MAX — a scalar subquery over an
    aggregate, decorrelated into a 1-row broadcast cross join. Revenue
    is decimal-exact per supplier, so MAX and the equality compare are
    bitwise stable across engines and partitionings."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    return (
        supp.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("best_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@_q(
    "q16_supplier_part_types",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#11' AND p_type <> 'SMALL'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, size) with
    a NOT IN exclusion subquery (negative-balance suppliers ≙ the
    complaint filter). lineitem stands in for partsupp. NOT IN over a
    non-null key column = left anti join; the exclusion list is tiny →
    broadcast anti join, no shuffle for it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#11")
        & (F.col("p_type") != "SMALL")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@_q(
    "q21_suppliers_kept_waiting",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier in a multi-supplier
    finished order. EXISTS → left semi self-join, NOT EXISTS → left
    anti self-join, both on (orderkey, suppkey≠). "Late" = shipped >90
    days after order date (no receipt/commit dates in this schema).

    Scale: the three lineitem passes all hash on l_orderkey — one
    co-partitioning serves the self-joins and the orders join, so AQE
    can reuse the exchange; at 100 TB bucket lineitem by orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    other = lambda a, b: (
        (F.col(f"{a}.l_orderkey") == F.col(f"{b}.l_orderkey"))
        & (F.col(f"{a}.l_suppkey") != F.col(f"{b}.l_suppkey"))
    )
    return (
        l1.join(l2, other("l1", "l2"), "left_semi")
        .join(l3, other("l1", "l3"), "left_anti")
        .join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@_q(
    "q20_excess_shipping_suppliers",
    """
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) > 30.0)
    ORDER BY s_name
    """,
)
def q20_excess_shipping_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN-subquery over a grouped HAVING —
    suppliers in one nation who shipped >30 units of any 'red' part in
    1995 (shipped quantity stands in for partsupp availqty). IN over a
    grouped result = left semi join on the distinct supplier keys; the
    HAVING sum is decimal-exact so the >30 cut is engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    heavy = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum("l_quantity", "ship_qty"))
        .where(F.col("ship_qty") > 30.0)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@_q(
    "integrity_referential_audit",
    """
    WITH o_c AS (
      SELECT COUNT(*) AS n_child,
             COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
               AS n_orphans
      FROM orders o),
    l_o AS (
      SELECT COUNT(*) AS n_child,
             COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
      FROM lineitem l),
    l_p AS (
      SELECT COUNT(*) AS n_child,
             COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
               AS n_orphans
      FROM lineitem l),
    c_n AS (
      SELECT COUNT(*) AS n_child,
             COUNT(*) FILTER (WHERE NOT EXISTS
               (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
               AS n_orphans
      FROM customer c)
    SELECT fk, n_child, n_orphans,
           CAST(n_child - n_orphans AS DOUBLE) / n_child AS fk_coverage
    FROM (
      SELECT 'orders.custkey->customer' AS fk, * FROM o_c
      UNION ALL SELECT 'lineitem.orderkey->orders', * FROM l_o
      UNION ALL SELECT 'lineitem.partkey->part', * FROM l_p
      UNION ALL SELECT 'customer.nationkey->nation', * FROM c_n)
    ORDER BY fk
    """,
)
def integrity_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the four FK edges of the
    schema: orphan counts and coverage ratios per edge — the data-quality
    gate a pipeline runs after ingest/backfill, beside the content
    checksums. Each edge is one left-anti join (child side streams, the
    parent key set broadcasts when small, shuffles on the key
    otherwise); counts aggregate map-side, so the audit cost is one
    scan per child table regardless of orphan volume."""
    tables = {
        "customer": load_table(spark, sf_dir, "customer"),
        "orders": load_table(spark, sf_dir, "orders"),
        "lineitem": load_table(spark, sf_dir, "lineitem"),
        "part": load_table(spark, sf_dir, "part"),
        "nation": load_table(spark, sf_dir, "nation"),
    }
    edges = [
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    parts = []
    for fk, child, ck, parent, pk in edges:
        c = tables[child].select(F.col(ck).alias("k"))
        # fused pass (r13; guide §2.4): ONE left join yields both the
        # child count and the orphan count — the old shape paid a
        # second child scan for the count branch (2 scans per edge).
        # The parent side is key-distinct, so the left join preserves
        # child cardinality exactly; a NULL marker = no parent = the
        # anti-join's survivor set. NULL child keys: left_anti kept
        # them as orphans (null never equi-matches), and here the
        # marker stays NULL for them identically.
        p = (
            tables[parent]
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        parts.append(
            c.join(p, "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.count(F.when(F.col("_hit").isNull(), 1)).alias("n_orphans"),
            )
            .select(
                F.lit(fk).alias("fk"),
                "n_child",
                "n_orphans",
                (
                    (F.col("n_child") - F.col("n_orphans")).cast("double")
                    / F.col("n_child")
                ).alias("fk_coverage"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    return out.orderBy("fk")


def _sql_snapshot_diff() -> str:
    from kinesis_stream_spark.functions.hashing import sql_md5_int64

    mutated = (
        "CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END"
    )
    return f"""
    WITH old_snap AS (
      SELECT doc_id AS k, MD5(CONCAT_WS('|', text, lang, source)) AS ofp,
             TRUE AS in_old
      FROM documents WHERE doc_id < 400),
    new_snap AS (
      SELECT doc_id AS k,
             MD5(CONCAT_WS('|', {mutated}, lang, source)) AS nfp,
             TRUE AS in_new
      FROM documents WHERE doc_id >= 100),
    j AS (
      -- presence flags, not fingerprint nullness (a NULL fingerprint is
      -- a row value); changed/same compare null-safely
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.in_old IS NULL THEN 'added'
                  WHEN n.in_new IS NULL THEN 'removed'
                  WHEN o.ofp IS DISTINCT FROM n.nfp THEN 'changed'
                  ELSE 'same' END AS status
      FROM old_snap o FULL JOIN new_snap n ON o.k = n.k)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST({sql_md5_int64("CAST(k AS VARCHAR)")}
             AS DECIMAL(38,0))) AS VARCHAR) AS key_checksum
    FROM j GROUP BY status ORDER BY status
    """


@_q("integrity_snapshot_diff", _sql_snapshot_diff())
def integrity_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions (the companion the
    whole-table checksum escalates to when it mismatches): per-status
    added/removed/changed/same row counts plus an order-independent
    checksum of the affected keys, so two sides can compare WHICH rows
    diverged with a few bytes. Snapshots are carved deterministically
    from the documents table (old = id < 400, new = id >= 100 with
    every 50th text amended), exercising all four statuses; row
    fingerprints are md5 over the NULL-skipping canonical concat. One
    co-partitioned full-outer join + a 4-row aggregate."""
    from kinesis_stream_spark.operators.profile import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws("|", "text", "lang", "source"))
    old = docs.where(F.col("doc_id") < 400).select("doc_id", fp.alias("fp"))
    new = docs.where(F.col("doc_id") >= 100).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                "|",
                F.when(
                    F.col("doc_id") % 50 == 0, F.concat(F.col("text"), F.lit(" v2"))
                ).otherwise(F.col("text")),
                F.col("lang"),
                F.col("source"),
            )
        ).alias("fp"),
    )
    return snapshot_diff(old, new, key_col="doc_id").orderBy("status")


@_q(
    "agg_supplier_skew_deciles",
    sql_key_concentration_deciles(table="lineitem", key_col="l_suppkey")
    + " ORDER BY decile",
)
def agg_supplier_skew_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew concentration profile of lineitem over supplier keys:
    suppliers ranked by row count, cut into 10 rank deciles, each with
    its key count, row share, and cumulative parts-per-million of all
    rows — the "does this shuffle need salting" diagnostic, computed
    WITHOUT a single-reducer global window (distributed prefix sum;
    operators/skew.py). The oracle replays the textbook single-window
    formulation — two different prefix-sum strategies must agree."""
    li = load_table(spark, sf_dir, "lineitem")
    return key_concentration_deciles(li, "l_suppkey").orderBy("decile")


@_q(
    "profile_orders_fds",
    sql_fd_profile(
        "orders",
        [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderdate", "o_orderstatus"),
        ],
    )
    + " ORDER BY determinant, dependent",
)
def profile_orders_fds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit on orders: o_orderkey→o_custkey must
    hold (key), while o_custkey→o_orderpriority and
    o_orderdate→o_orderstatus are expected violations — the profiler
    reports group counts, violating-group counts, and the max fan-out
    per pair (operators/profile.py for the per-pair combinable
    shape)."""
    o = load_table(spark, sf_dir, "orders")
    return fd_profile(
        o,
        [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderdate", "o_orderstatus"),
        ],
    ).orderBy("determinant", "dependent")


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
]


@_q(
    "profile_lineitem_correlations",
    sql_numeric_correlations("lineitem", _CORR_PAIRS)
    + " ORDER BY col_x, col_y",
)
def profile_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlations between lineitem's numeric measures in the
    engine's fixed-point contract: exact DECIMAL(38,0)/HUGEINT moment
    sums over 2^20-quantized values, pinned-order sqrt/divide finals —
    quantity and extendedprice must correlate strongly (price scales
    with quantity), discount with neither (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import numeric_correlations

    li = load_table(spark, sf_dir, "lineitem")
    return numeric_correlations(li, _CORR_PAIRS).orderBy("col_x", "col_y")


_CDC_SNAP_CTE = """
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
  FROM orders
"""

# deterministic synthetic change set carved from orders itself:
# every 13th key deletes, every 10th (not deleted) updates status/price,
# every 17th spawns an insert at key + 1e9 (guaranteed-new key space)
_CDC_CHG_CTE = """
  SELECT o_orderkey AS k, 'D' AS op, NULL AS status, NULL AS price
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT o_orderkey AS k, 'U' AS op, 'X' AS status,
         o_totalprice + 1.0 AS price
  FROM orders WHERE o_orderkey % 13 <> 0 AND o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000 AS k, 'I' AS op, 'N' AS status,
         CAST(o_orderkey AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 17 = 0
"""


@_q(
    "integrity_cdc_merge",
    sql_cdc_apply(
        _CDC_SNAP_CTE, _CDC_CHG_CTE, key_col="k", val_cols=["status", "price"]
    )
    + " ORDER BY k",
)
def integrity_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (CDC apply) semantics: a deterministic change set
    (deletes every 13th order, updates every 10th, inserts a shifted
    key for every 17th) applied to the orders snapshot via ONE
    full-outer join + CASE — the lakehouse MERGE INTO shape
    (operators/profile.py). Output is the merged snapshot itself, so
    parity pins every surviving/updated/inserted row."""
    from kinesis_stream_spark.operators.profile import cdc_apply

    o = load_table(spark, sf_dir, "orders")
    snap = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    dels = o.where(F.col("o_orderkey") % 13 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
    )
    upds = o.where(
        (F.col("o_orderkey") % 13 != 0) & (F.col("o_orderkey") % 10 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") + 1.0).alias("price"),
    )
    ins = o.where(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("k"),
        F.lit("I").alias("op"),
        F.lit("N").alias("status"),
        F.col("o_orderkey").cast("double").alias("price"),
    )
    changes = dels.unionAll(upds).unionAll(ins)
    return cdc_apply(
        snap, changes, key_col="k", val_cols=["status", "price"]
    ).orderBy("k")


@_q(
    "feature_quantile_normalize",
    sql_quantile_normalize(
        table="part", id_col="p_partkey", val_col="p_retailprice"
    )
    + " ORDER BY p_partkey",
)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (empirical-CDF) normalization of part retail prices to
    integer ppm — the distribution-free feature transform, built on
    the distributed prefix sum over the DISTINCT-value frame (NO
    single-reducer CUME_DIST window); the oracle replays the textbook
    single-window formulation, so two prefix-sum strategies must agree
    (operators/skew.py)."""
    from kinesis_stream_spark.operators.skew import quantile_normalize

    p = load_table(spark, sf_dir, "part")
    return quantile_normalize(
        p, id_col="p_partkey", val_col="p_retailprice"
    ).orderBy("p_partkey")


@_q(
    "profile_benford_prices",
    sql_benford_audit("orders", "o_totalprice") + " ORDER BY digit",
)
def profile_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed vs expected
    leading-digit shares in integer ppm (expectations injected as
    precomputed literals — no in-engine log) — the fraud / synthetic-
    data smoke test (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import benford_audit

    o = load_table(spark, sf_dir, "orders")
    return benford_audit(o, "o_totalprice").orderBy("digit")


@_q(
    "profile_orders_chisq",
    sql_chisq_independence("orders", "o_orderpriority", "o_orderstatus")
    + " ORDER BY o_orderpriority, o_orderstatus",
)
def profile_orders_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit between order priority and order
    status: per contingency cell, observed vs independence-expected
    counts and the cell's χ² contribution in pinned-order doubles over
    exact marginals (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import chisq_independence

    o = load_table(spark, sf_dir, "orders")
    return chisq_independence(o, "o_orderpriority", "o_orderstatus").orderBy(
        "o_orderpriority", "o_orderstatus"
    )


@_q("profile_cramers_v", None)  # assigned below
def profile_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over the workload's categorical
    pairs — the chi-square audit normalized to [0, 1] so pairs with
    different cardinalities compare on one scale: order status ~
    priority (orders) and return flag ~ line status (lineitem).
    Per-cell contributions quantize to 2^20 fixed point so the χ²
    total sums order-free (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import cramers_v

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        cramers_v(o, "o_orderstatus", "o_orderpriority")
        .unionAll(cramers_v(li, "l_returnflag", "l_linestatus"))
        .orderBy("pair")
    )


@_q("agg_gini_concentration", None)  # assigned below
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini per order priority: rank customers
    by their total spend within each priority class and score the
    inequality of the distribution — exact micro-unit totals,
    DECIMAL(38,0) rank products, integer-ppm Gini, group-partitioned
    rank window (operators/skew.py)."""
    from kinesis_stream_spark.operators.skew import gini_concentration

    o = load_table(spark, sf_dir, "orders")
    return gini_concentration(
        o,
        group_col="o_orderpriority",
        key_col="o_custkey",
        val_col="o_totalprice",
    ).orderBy("group_key")


from kinesis_stream_spark.operators.skew import (  # noqa: E402
    sql_gini_concentration,
)

ORACLE["agg_gini_concentration"] = (
    sql_gini_concentration(
        facts_cte=(
            "SELECT o_orderpriority AS grp, o_custkey AS key,"
            " o_totalprice AS v FROM orders"
        ),
    )
    + " ORDER BY group_key"
)


_BALANCE_COLS = ["o_orderstatus", "o_orderpriority"]


@_q("profile_category_balance", None)  # assigned below
def profile_category_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance profile of the orders label columns: Gini
    impurity and inverse-Simpson effective-category count per column —
    the integer-exact stand-ins for entropy (whose ln rounds
    differently across engines), plus top-share and cardinality
    (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import category_balance

    o = load_table(spark, sf_dir, "orders")
    return category_balance(o, _BALANCE_COLS).orderBy("column_name")


_UNIQ_COLS = ["o_orderkey", "o_custkey", "o_orderstatus"]


@_q("integrity_uniqueness_profile", None)  # assigned below
def integrity_uniqueness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Candidate-key audit of orders: per column, duplicate-row
    counts, largest duplicate group, integer-ppm uniqueness, and the
    PRIMARY KEY verdict (no dups, no NULLs) — o_orderkey should pass,
    o_custkey and o_orderstatus should fail with measured distance
    (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import uniqueness_profile

    o = load_table(spark, sf_dir, "orders")
    return uniqueness_profile(o, _UNIQ_COLS).orderBy("column_name")


from kinesis_stream_spark.operators.profile import (  # noqa: E402
    sql_category_balance,
    sql_cramers_v,
    sql_uniqueness_profile,
)

ORACLE["profile_cramers_v"] = (
    "SELECT * FROM (("
    + sql_cramers_v("orders", "o_orderstatus", "o_orderpriority")
    + ") UNION ALL ("
    + sql_cramers_v("lineitem", "l_returnflag", "l_linestatus")
    + ")) AS cv ORDER BY pair"
)

ORACLE["profile_category_balance"] = (
    sql_category_balance("orders", _BALANCE_COLS) + " ORDER BY column_name"
)
ORACLE["integrity_uniqueness_profile"] = (
    sql_uniqueness_profile("orders", _UNIQ_COLS) + " ORDER BY column_name"
)


#: zone-map audit predicate: orders shipped in June 1998 (epoch days)
_ZM_LO, _ZM_HI = 10378, 10407
_ZM_BUCKETS = 16


@_q("layout_zonemap_skipping", None)  # assigned below
def layout_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skipping audit over orders: the same one-month
    predicate against a date-range-clustered layout vs a hash layout —
    per layout, buckets/rows a min-max-stats reader must scan and the
    integer-ppm skip rate; the measured case for range-clustering the
    100 TB write (operators/layout.py; global rank rides the
    distributed prefix sum)."""
    from kinesis_stream_spark.operators.layout import zonemap_skipping

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .alias("k_day"),
        "o_orderkey",
    )
    return zonemap_skipping(
        o,
        key_col="k_day",
        id_col="o_orderkey",
        pred_lo=_ZM_LO,
        pred_hi=_ZM_HI,
        buckets=_ZM_BUCKETS,
    ).orderBy("layout")


from kinesis_stream_spark.operators.layout import (  # noqa: E402
    sql_zonemap_skipping,
)

ORACLE["layout_zonemap_skipping"] = (
    sql_zonemap_skipping(
        source_cte=(
            "SELECT EPOCH_US(o_orderdate) // 86400000000 AS k,"
            " o_orderkey AS rid FROM orders"
            " WHERE o_orderdate IS NOT NULL"
        ),
        pred_lo=_ZM_LO,
        pred_hi=_ZM_HI,
        buckets=_ZM_BUCKETS,
    )
    + " ORDER BY layout"
)


@_q("agg_weighted_median", None)  # assigned below
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — the
    volume-weighted centerline (the price at which half the QUANTITY
    traded); lower-median selection rule, zero float arithmetic, the
    value collapse then a group-partitioned cumulative window
    (operators/quantiles.py)."""
    from kinesis_stream_spark.operators.quantiles import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        group_col="l_returnflag",
        val_col="l_extendedprice",
        weight_col="l_quantity",
    ).orderBy("group_key")


from kinesis_stream_spark.operators.quantiles import (  # noqa: E402
    sql_weighted_median,
)

ORACLE["agg_weighted_median"] = (
    sql_weighted_median(
        facts_cte=(
            "SELECT l_returnflag AS grp, l_extendedprice AS v,"
            " l_quantity AS w FROM lineitem"
        ),
    )
    + " ORDER BY group_key"
)


@_q(
    "join_shipping_lag_percentiles",
    f"""
    WITH lags AS (
      SELECT o.o_orderpriority AS priority,
             (EPOCH_US(l.l_shipdate) - EPOCH_US(o.o_orderdate))
               // 86400000000 AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL)
    SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
           QUANTILE_CONT(lag_days, 0.5) AS p50,
           QUANTILE_CONT(lag_days, 0.9) AS p90,
           QUANTILE_CONT(lag_days, 0.99) AS p99,
           MIN(lag_days) AS lag_min, MAX(lag_days) AS lag_max
    FROM lags GROUP BY 1 ORDER BY priority
    """,
)
def join_shipping_lag_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship lag percentile bands per order priority — the
    cross-table SLA readout (does 'URGENT' actually ship faster?):
    integer day lags from the fact-to-fact join, exact grouped
    percentiles (the established percentile↔QUANTILE_CONT parity), and
    the extents. The join shuffles on the order key — the percentile
    pass adds no extra exchange beyond its own group-by."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "(unix_micros(cast(l_shipdate as timestamp))"
            " - unix_micros(cast(o_orderdate as timestamp)))"
            " div 86400000000"
        ).alias("lag_days"),
    )
    return (
        lags.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr("percentile(lag_days, 0.5)").alias("p50"),
            F.expr("percentile(lag_days, 0.9)").alias("p90"),
            F.expr("percentile(lag_days, 0.99)").alias("p99"),
            F.min("lag_days").alias("lag_min"),
            F.max("lag_days").alias("lag_max"),
        )
        .orderBy("priority")
    )


@_q(
    "join_salted_skew_segments",
    f"""
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.value', 'sum_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1 ORDER BY c_mktsegment
    """,
)
def join_salted_skew_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join: events salt on their row identity,
    the customer dim replicates once per salt, and the join runs on
    (key, salt) so a celebrity user's rows spread over 8 reducers
    instead of one — values identical to the plain equi-join the
    oracle runs (operators/skew.py salted_join; the plan pins
    SortMergeJoin with the salt in the keys)."""
    from kinesis_stream_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        ev,
        cust,
        big_key="user_id",
        small_key="c_custkey",
        salt_src="event_id",
        n_salts=8,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value", "sum_value"),
        )
        .orderBy("c_mktsegment")
    )


#: compaction target for the documents manifest (chars stand in for
#: bytes): ~8 docs per output bin at the synthetic ~300-char docs
_COMPACT_TARGET = 2048
_COMPACT_FILES_CTE = (
    "SELECT source AS part_key, doc_id AS file_id, n_chars AS b"
    " FROM documents"
)


@_q("layout_compaction_bins", None)  # assigned below
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan for the documents table treated as a small-file
    manifest (source = partition, doc = file, n_chars = bytes): greedy
    prefix-sum binning into ~2 KB output files with a per-bin fill
    audit — the planner half of OPTIMIZE, all metadata-sized
    (operators/layout.py)."""
    from kinesis_stream_spark.operators.layout import compaction_plan

    d = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("part_key"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("b"),
    )
    return compaction_plan(
        d,
        part_col="part_key",
        file_col="file_id",
        bytes_col="b",
        target_bytes=_COMPACT_TARGET,
    ).orderBy("part_key", "bin_id")


from kinesis_stream_spark.operators.layout import (  # noqa: E402
    sql_compaction_plan,
)

ORACLE["layout_compaction_bins"] = (
    sql_compaction_plan(_COMPACT_FILES_CTE, target_bytes=_COMPACT_TARGET)
    + " ORDER BY part_key, bin_id"
)


from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    DAY_US as _KS_DAY_US,
)
from kinesis_stream_spark.operators.temporal import (  # noqa: E402
    _bucket as _ks_bucket,
)

_KS_A_CTE = (
    "SELECT value AS v FROM events WHERE ts IS NOT NULL"
    f" AND EPOCH_US(ts) // {_KS_DAY_US} % 2 = 0"
)
_KS_B_CTE = (
    "SELECT value AS v FROM events WHERE ts IS NOT NULL"
    f" AND EPOCH_US(ts) // {_KS_DAY_US} % 2 = 1"
)


@_q("profile_ks_value_drift", None)  # assigned below
def profile_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift check on the event value
    distribution, even epoch-days vs odd — the numeric-distribution
    drift alarm beside the categorical chi-square: the CDF-gap
    maximizer runs on exact integer cross products over ONE
    distributed prefix-sum exchange; only the reported D and the
    Kolmogorov-scaled statistic are (pinned) floats
    (operators/profile.py)."""
    from kinesis_stream_spark.operators.profile import ks_two_sample

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    day = _ks_bucket(_KS_DAY_US)
    a = ev.where(day % 2 == 0).select(F.col("value").alias("v"))
    b = ev.where(day % 2 == 1).select(F.col("value").alias("v"))
    return ks_two_sample(a, b)


from kinesis_stream_spark.operators.profile import (  # noqa: E402
    sql_ks_two_sample,
)

ORACLE["profile_ks_value_drift"] = sql_ks_two_sample(_KS_A_CTE, _KS_B_CTE)


@_q("profile_spearman_corr", None)  # assigned below
def profile_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-aware midranks) between quantity
    and extended price per return flag, next to the Pearson matrix —
    a Pearson≫Spearman gap is the outlier-leverage alarm. Exact
    2×-midranks over distributed prefix sums, DECIMAL(38,0) moments,
    pinned finals (operators/profile.py:spearman_correlation)."""
    from kinesis_stream_spark.operators.profile import spearman_correlation

    li = load_table(spark, sf_dir, "lineitem")
    return spearman_correlation(
        li,
        group_col="l_returnflag",
        x_col="l_quantity",
        y_col="l_extendedprice",
    ).orderBy("group_key")


from kinesis_stream_spark.operators.profile import (  # noqa: E402
    sql_spearman_correlation,
)

ORACLE["profile_spearman_corr"] = (
    sql_spearman_correlation(
        table="lineitem",
        group_col="l_returnflag",
        x_col="l_quantity",
        y_col="l_extendedprice",
    )
    + " ORDER BY group_key"
)


@_q("profile_hellinger_drift", None)  # assigned below
def profile_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded [0,1] Hellinger drift between each event type's early
    and late value distributions on 20 fixed bins — the thresholdable
    drift number beside the KS gap and the chi-square; the binned
    cell frame is the mergeable 100 TB sketch
    (operators/profile.py:hellinger_drift)."""
    from kinesis_stream_spark.operators.profile import hellinger_drift

    return hellinger_drift(load_table(spark, sf_dir, "events")).orderBy("key")


from kinesis_stream_spark.operators.profile import (  # noqa: E402
    sql_hellinger_drift,
)

ORACLE["profile_hellinger_drift"] = (
    sql_hellinger_drift() + " ORDER BY key"
)


@_q("join_cardinality_estimate", None)  # assigned below
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact size + skew profile of the lineitem⋈lineitem self-join on
    part key, priced from the per-key count frames WITHOUT running the
    join — the planning pass behind salting/broadcast decisions
    (operators/skew.py:join_cardinality_profile). '__total__' row +
    top-10 contributing keys with ppm shares."""
    from kinesis_stream_spark.operators.skew import join_cardinality_profile

    li = load_table(spark, sf_dir, "lineitem")
    return join_cardinality_profile(
        li, li, left_key="l_partkey", right_key="l_partkey"
    )


from kinesis_stream_spark.operators.skew import (  # noqa: E402
    sql_join_cardinality_profile,
)

ORACLE["join_cardinality_estimate"] = sql_join_cardinality_profile(
    left_table="lineitem",
    right_table="lineitem",
    left_key="l_partkey",
    right_key="l_partkey",
)


#: shared constraint suite for the scorecard query — ONE spec feeds
#: both the Spark operator and the DuckDB oracle generator, so the
#: two sides can never check different contracts. The range bound is
#: deliberately tighter than the data (a failing row is part of the
#: fixture: a scorecard that can only ever pass tests nothing).
_SCORECARD_SPECS = [
    {"name": "orderkey_not_null", "kind": "not_null", "col": "o_orderkey"},
    {"name": "orderkey_unique", "kind": "unique", "col": "o_orderkey"},
    {
        "name": "custkey_in_customer",
        "kind": "ref",
        "col": "o_custkey",
        "ref": "customer",
        "ref_col": "c_custkey",
    },
    {
        "name": "status_in_domain",
        "kind": "in_set",
        "col": "o_orderstatus",
        "values": ("O", "F", "P"),
    },
    {
        "name": "totalprice_in_range",
        "kind": "range",
        "col": "o_totalprice",
        "lo": 0.0,
        "hi": 450000.0,
    },
    {
        "name": "priority_format",
        "kind": "regexp",
        "col": "o_orderpriority",
        "pattern": "^[1-5]-[A-Z ]+$",
    },
]


@_q("integrity_quality_scorecard", None)  # assigned below
def integrity_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint suite over orders (not-null,
    uniqueness, referential, domain set, range, format) — one shared
    aggregate pass + one keys-sized anti-join per referential rule;
    the publish gate is WHERE NOT passed
    (operators/profile.py:quality_scorecard)."""
    from kinesis_stream_spark.operators.profile import quality_scorecard

    return quality_scorecard(
        load_table(spark, sf_dir, "orders"),
        _SCORECARD_SPECS,
        ref_frames={"customer": load_table(spark, sf_dir, "customer")},
    ).orderBy("check_name")


from kinesis_stream_spark.operators.profile import (  # noqa: E402
    sql_quality_scorecard,
)

ORACLE["integrity_quality_scorecard"] = (
    sql_quality_scorecard(
        table="orders",
        constraints=_SCORECARD_SPECS,
        ref_tables={"customer": "customer"},
    )
    + " ORDER BY check_name"
)


@_q("sample_weighted_per_type", None)  # assigned below
def sample_weighted_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible value-weighted sample of 5 events per event type —
    the deterministic-hash weighted-priority sampler (rank by
    md5(id)/weight; the integer-exact ES-A-Res sibling): re-runs,
    retries, and backfills pick the same rows
    (operators/sampling.py:weighted_priority_sample)."""
    from kinesis_stream_spark.operators.sampling import (
        weighted_priority_sample,
    )

    return weighted_priority_sample(
        load_table(spark, sf_dir, "events"),
        group_col="event_type",
        id_col="event_id",
        weight_col="value",
        k=5,
    ).orderBy("group_key", "sample_rank")


from kinesis_stream_spark.operators.sampling import (  # noqa: E402
    sql_weighted_priority_sample,
)

ORACLE["sample_weighted_per_type"] = (
    sql_weighted_priority_sample(
        table="events",
        group_col="event_type",
        id_col="event_id",
        weight_col="value",
        k=5,
    )
    + " ORDER BY group_key, sample_rank"
)


@_q("feature_target_encoding", None)  # assigned below
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of order priority by
    total price (Micci-Barreca 2001): each order's feature is the mean
    price of the OTHER orders sharing its priority, shrunk toward the
    global mean — the leakage-guarded categorical encoding a training
    pipeline feeds the model (operators/encoding.py:target_encoding)."""
    from kinesis_stream_spark.operators.encoding import target_encoding

    orders = load_table(spark, sf_dir, "orders")
    return target_encoding(
        orders,
        id_col="o_orderkey",
        category_col="o_orderpriority",
        target_col="o_totalprice",
        smoothing=10,
    ).orderBy("id")


from kinesis_stream_spark.operators.encoding import (  # noqa: E402
    sql_target_encoding,
)

ORACLE["feature_target_encoding"] = (
    sql_target_encoding(
        table="orders",
        id_col="o_orderkey",
        category_col="o_orderpriority",
        target_col="o_totalprice",
        smoothing=10,
    )
    + " ORDER BY id"
)


@_q("integrity_total_reconciliation", None)  # assigned below
def integrity_total_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ledger audit of the denormalized order total: recompute each
    order from its lineitems (extprice·(1−disc)·(1+tax), the TPC-H
    invariant), quantize both sides to the 2^20-fx grid, and bucket
    the population into match / mismatch / missing_children /
    orphan_children with exact diff totals
    (operators/profile.py:total_reconciliation)."""
    from kinesis_stream_spark.operators.profile import total_reconciliation

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "contribution",
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax")),
    )
    return total_reconciliation(
        orders,
        li,
        parent_key="o_orderkey",
        total_col="o_totalprice",
        child_key="l_orderkey",
        contribution_col="contribution",
        tolerance_fx=10485,  # floor(0.01 * 2^20) — one cent
    ).orderBy("bucket")


from kinesis_stream_spark.operators.profile import (  # noqa: E402
    sql_total_reconciliation,
)

ORACLE["integrity_total_reconciliation"] = (
    sql_total_reconciliation(
        parent_table="orders",
        child_table="lineitem",
        parent_key="o_orderkey",
        total_col="o_totalprice",
        child_key="l_orderkey",
        contribution_expr=(
            "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"
        ),
        tolerance_fx=10485,
    )
    + " ORDER BY bucket"
)
