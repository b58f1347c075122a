"""Relational operator suite: filter/project/join/agg/sort/top-k/set-ops.

The reference has NO built-in join/sort/top-k operators — users write them
as map/reduce pipelines (SURVEY.md §2.5; reference tests/test_query.py:11-57
partitioned hash equi-join, examples/util/simple_innerjoin.py sort-merge
join, lib/disco/util.py:319-388 external sort). Here each of those
canonical patterns is a first-class declarative DataFrame query so
Catalyst picks the physical strategy (broadcast vs shuffled hash vs SMJ,
partial/final aggregation, AQE skew handling).

Scale notes (100 TB thinking, per query):
- dims (region/nation/supplier/part) are broadcast — no shuffle of the
  fact side for those joins.
- fact-fact joins (orders x lineitem) shuffle on the join key only after
  filters are pushed to the parquet scan.
- aggregates use partial (map-side) aggregation automatically; the
  decimal cast for cross-engine determinism stays inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import load_tables


def dsum(expr: Column, alias: str, scale: int = 6) -> Column:
    """Order-independent SUM: exact decimal accumulation, double result.

    Summing doubles is order-dependent (shuffle nondeterminism and an
    engine-dependent fold order would break oracle hash-matching);
    DECIMAL accumulation is exact, so Spark and DuckDB agree bit-for-bit
    after the final cast to double.
    """
    return F.sum(expr.cast(f"decimal(20,{scale})")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# q1: pricing summary (TPC-H Q1 shape) — the canonical groupBy/agg.
# Reference parity: combiner + reduce aggregation chain
# (lib/disco/worker/classic/func.py:48-114, sum_combiner/sum_reduce
# func.py:164-184) expressed as one declarative aggregate.
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty", (F.col("sum_qty") / F.col("count_order")).cast("double")
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            "avg_qty",
            "count_order",
        )
    )


# ---------------------------------------------------------------------------
# q3: shipping priority (TPC-H Q3 shape) — 3-way join + agg + top-k.
# Reference parity: tests/test_query.py:94-118 equi-join + two-level
# aggregation; top-k is a user reduce fold in the reference (SURVEY §2.5).
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer side is small after the segment filter → broadcast:
        # no shuffle of the fact side for this join.
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# q5: revenue by nation within a region — 6-table star join.
# ---------------------------------------------------------------------------
@query(
    "q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    region = t["region"].filter(F.col("r_name") == "ASIA")
    # dim chain region->nation->supplier is tiny: broadcast the whole
    # prejoined dim so the fact side never shuffles for it.
    dims = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(dims),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# Canonical partitioned equi-join (reference tests/test_query.py:11-57):
# hash-partition both sides on the join key, per-partition match, then
# two-level count aggregation. Declaratively: join + groupBy; Catalyst's
# partial/final HashAggregate IS the reference's node_combine/combine_all
# pair (tests/test_query.py:76-92).
# ---------------------------------------------------------------------------
@query(
    "join_count_by_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_count_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


# ---------------------------------------------------------------------------
# Broadcast dim join: customer counts per region name.
# ---------------------------------------------------------------------------
@query(
    "broadcast_dim_join",
    oracle="""
    SELECT r_name, COUNT(*) AS customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    dim = t["nation"].join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        t["customer"]
        .join(F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("customers"))
    )


# ---------------------------------------------------------------------------
# Top-k (reference: user reduce fold, e.g. examples/tsp best-tour select;
# SURVEY §2.5). Spark: orderBy().limit(k) → TakeOrderedAndProject, which
# is a per-partition heap + driver merge of k rows — no global sort.
# ---------------------------------------------------------------------------
@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Global sort (reference disk_sort / unix sort -, lib/disco/util.py:319-388):
# range-partitioned exchange + per-partition sort in Spark. We return the
# sorted projection; byte-order key semantics live in the compat layer.
# ---------------------------------------------------------------------------
@query(
    "global_sort_orders",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    """,
)
def global_sort_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["orders"].orderBy("o_orderdate", "o_orderkey").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# distinct (reference: DiscoDB.unique_values / user dedup reduces, §2.5)
# ---------------------------------------------------------------------------
@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["customer"].select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Set ops: intersect / except over derived key sets (reference: DiscoDB
# CNF `k1 & k2`, `~k` — doc/howto/discodb.rst:38-42).
# ---------------------------------------------------------------------------
@query(
    "intersect_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = t["orders"].filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low)


@query(
    "except_customers",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["customer"].select("c_custkey").exceptAll(
        t["orders"].select(F.col("o_custkey").alias("c_custkey"))
    ).distinct()


@query(
    "union_all_keys",
    oracle="""
    SELECT k, COUNT(*) AS n FROM (
      SELECT o_custkey AS k FROM orders
      UNION ALL
      SELECT c_custkey AS k FROM customer
    ) GROUP BY k
    """,
)
def union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    u = t["orders"].select(F.col("o_custkey").alias("k")).unionAll(
        t["customer"].select(F.col("c_custkey").alias("k"))
    )
    return u.groupBy("k").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Semi / anti joins (reference approximates via DiscoDB metaquery filters,
# SURVEY §2.5).
# ---------------------------------------------------------------------------
@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS active_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("active_customers"))
    )


@query(
    "anti_join_idle_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Theta/cross join after equality bucket (reference join_done nested loop,
# tests/test_query.py:52-57) → Catalyst BroadcastNestedLoopJoin.
# ---------------------------------------------------------------------------
@query(
    "theta_join_nation_pairs",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a, nation b
    WHERE a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def theta_join_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    a = t["nation"].select(
        F.col("n_nationkey").alias("k1"), F.col("n_name").alias("n1"), F.col("n_regionkey").alias("r1")
    )
    b = t["nation"].select(
        F.col("n_nationkey").alias("k2"), F.col("n_name").alias("n2"), F.col("n_regionkey").alias("r2")
    )
    return (
        a.join(b, (F.col("r1") == F.col("r2")) & (F.col("k1") < F.col("k2")))
        .select("n1", "n2")
    )


# ---------------------------------------------------------------------------
# Range-bucket histogram (reference make_range_partition,
# lib/disco/worker/classic/func.py:131-141: equal-width ranges).
# ---------------------------------------------------------------------------
@query(
    "range_histogram_totalprice",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def range_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select(F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Global aggregate with no grouping key (reference group_all: every input
# to a single task — pipeline_utils.erl:174-181). Spark computes this as
# partial aggregates + a 1-row final merge; nothing like "one task reads
# everything" happens.
# ---------------------------------------------------------------------------
@query(
    "group_all_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS total_qty,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def group_all_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["lineitem"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_quantity"), "total_qty"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Window function over orders: rank orders per customer by price.
# (Beyond-reference: Disco has no window functions at all, SURVEY §2.8 —
# free capability from Spark, exposed as a first-class query.)
# ---------------------------------------------------------------------------
@query(
    "window_top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def window_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q4: order-priority checking (TPC-H Q4 shape, adapted to the testdata
# schema: lineitem has no commit/receipt dates, so the EXISTS predicate is
# "some lineitem shipped after the order date"). Physical shape of
# interest: left-semi join on the fact table's key, then a tiny agg.
# ---------------------------------------------------------------------------
@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q6: forecasting revenue change (TPC-H Q6 shape) — the pure pushdown
# query: every predicate reaches the parquet scan (PushedFilters), the agg
# is a single partial+final sum with no grouping key. At 100 TB this is
# scan-bound by design; anything else in the plan is a bug.
# ---------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(20,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# q10: returned-item reporting (TPC-H Q10 shape) — fact-fact shuffle join
# (orders x lineitem on orderkey) + broadcast dim joins (customer, nation)
# + top-20. The fact join shuffles only post-filter rows.
# ---------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    # aggregate to custkey grain BEFORE touching customer/nation: the dim
    # join then sees 20 rows instead of every fact row (c_custkey is the
    # customer PK, so grouping post-join by (c_custkey, c_name, n_name)
    # is equivalent). At 100 TB customer is NOT broadcast-small; this
    # shape never needs it to be.
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_custkey"))
        .limit(20)
    )
    return (
        top.join(t["customer"], top.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


# ---------------------------------------------------------------------------
# Rollup: multi-level aggregate in one pass (free Catalyst capability the
# reference lacks entirely — SURVEY §2.3 notes no grouping sets anywhere;
# exposed because a 100 TB pipeline wants the 1-scan rollup, not 3 scans).
# ---------------------------------------------------------------------------
@query(
    "rollup_orders_by_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders_by_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["orders"].rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
    )


@query(
    "cube_orders_by_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders_by_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping sets in one pass (same free-Catalyst
    rationale as the rollup above — one scan replaces four)."""
    t = load_tables(spark, sf_dir)
    return t["orders"].cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
    )


# ---------------------------------------------------------------------------
# q14: promotion effect (TPC-H Q14 shape) — conditional aggregation over a
# broadcast part join: one scan, two sums, no second pass.
# ---------------------------------------------------------------------------
@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
                 ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = rev.cast("decimal(20,6)")
    zero = F.lit(0).cast("decimal(20,6)")
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.00)
                * F.sum(F.when(F.col("p_type") == "PROMO", dec).otherwise(zero)).cast("double")
                / F.sum(dec).cast("double")
            ).cast("double").alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# q16: supplier count by part attributes (TPC-H Q16 shape) — DISTINCT
# aggregation (expand+two-phase in Catalyst) after a broadcast join.
# ---------------------------------------------------------------------------
@query(
    "q16_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (5, 15, 25, 35, 45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 15, 25, 35, 45)
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q19: discounted revenue under disjunctive predicates (TPC-H Q19 shape) —
# OR-of-ANDs across the join: Catalyst pushes the common conjuncts and
# evaluates the residual disjunction post-join in codegen.
# ---------------------------------------------------------------------------
@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li, p = t["lineitem"], t["part"]
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# Exact discrete percentiles per group (beyond-reference: the reference
# has no percentile machinery; users would fold in a sorted reduce).
# percentile_disc returns an actual data value, so results are bit-exact
# across engines (no interpolation arithmetic).
# ---------------------------------------------------------------------------
@query(
    "percentiles_totalprice_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p50,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p90,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentiles_totalprice_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    t["orders"].createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p50,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p90,
               CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS DOUBLE) AS p99
        FROM orders GROUP BY o_orderpriority
        """
    )
