"""Relational query suite — [extension] operators (SURVEY.md §2b).

The reference has no relational operators beyond count-by-key
(`/root/reference/src/worker.rs:36-38`); everything here is the
[extension] surface: filters/projections, joins of every flavor,
aggregation (incl. distinct, rollup, cube), window functions,
sort/limit/top-k, set operations, scalar functions, JSON extraction.
All pure Catalyst built-ins — no UDFs anywhere in this module, so every
query stays inside whole-stage codegen and gets predicate pushdown,
column pruning, and AQE for free.

Cross-engine determinism rules (the DuckDB oracle hash-compares):

* SUM/AVG over doubles is order-dependent in the last ulps, so every
  such aggregate sums ``CAST(x AS DECIMAL(38,6))`` — exact and
  order-independent — then casts the result back to double (both
  engines round-to-nearest-even on that cast, giving identical bits).
* MIN/MAX/COUNT are order-independent already — no cast.
* Every top-k sort carries a unique-key tie-break.
* Every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from another_map_reduce_spark.queries import register
from another_map_reduce_spark.sources.tables import load_table
from another_map_reduce_spark.streaming.lifecycle import (
    drain,
    process_all_available,
    start_stateful,
)


# Shared with plans.tpch_extra via functions.aggs (NOT via an
# inter-plans import, which is a latent cycle — see functions/aggs.py).
from another_map_reduce_spark.functions.aggs import (  # noqa: E402,F401
    _dec,
    davg,
    dsum,
)


# ---------------------------------------------------------------------------
# Filter / projection (pushdown showcase)
# ---------------------------------------------------------------------------


@register(
    "filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
  AND l_discount > 0.05
  AND l_returnflag = 'R'
""",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates + narrow projection.

    Both the filters and the 4-column ReadSchema reach the parquet scan
    (PushedFilters in .explain) — the plan reads no other bytes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate scan-group.

    Partial aggregation (map-side combine) collapses 600k rows to
    |flags×status| per task before the shuffle — the pattern the
    reference lacks entirely (src/worker.rs:95-115 shuffles raw pairs).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count-distinct / min / max / avg in one pass."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            davg("o_totalprice", "avg_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; gid disambiguates rollup NULLs."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            dsum("l_quantity", "sum_qty"),
            F.count("*").alias("n"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@register(
    "agg_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus, o_orderpriority
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            dsum("o_totalprice", "total"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@register(
    "agg_having",
    oracle="""
SELECT p_brand, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM part
GROUP BY p_brand
HAVING COUNT(*) >= 5
ORDER BY p_brand
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"), dsum("p_retailprice", "total_price"))
        .where(F.col("n_parts") >= 5)
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_agg",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def join_broadcast_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dimension with an explicit broadcast hint.

    customer is orders/10 at every SF — broadcasting it removes the
    fact-side shuffle entirely: the join is map-side, and only the
    tiny post-agg shuffle remains.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue"))
        .orderBy("c_mktsegment")
    )


@register(
    "join_multiway",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table star join.

    nation/region are broadcast (bounded cardinality at any SF);
    lineitem⋈orders is the only big shuffle and AQE may convert even
    that once the customer filter collapses the build side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name, COUNT(o_orderkey) AS order_cnt
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY c_custkey
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count 0)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("order_cnt"))
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    oracle="""
WITH hv AS (
    SELECT c_custkey FROM customer WHERE c_acctbal > 8000
), big AS (
    SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 480000
)
SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
            WHEN o_custkey IS NULL THEN 'customer_only'
            ELSE 'both' END AS side,
       COUNT(*) AS n,
       CAST(SUM(COALESCE(c_custkey, o_custkey)) AS BIGINT) AS key_checksum
FROM hv FULL OUTER JOIN big ON c_custkey = o_custkey
GROUP BY side
ORDER BY side
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join between two overlapping-but-distinct key sets
    (rich customers vs customers with a huge order), summarised by
    which side survived — exercises null-extension on BOTH sides,
    which no other join query does.

    A full outer join can't broadcast either side (unmatched build
    rows must be emitted), so Spark plans SortMerge — correct and
    scale-safe; the key_checksum pins the exact surviving key sets.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    hv = cust.where(F.col("c_acctbal") > 8000).select("c_custkey")
    big = (
        orders.where(F.col("o_totalprice") > 480000)
        .select("o_custkey")
        .distinct()
    )
    side = (
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
    )
    return (
        hv.join(big, hv.c_custkey == big.o_custkey, "full_outer")
        .select(
            side.alias("side"),
            F.coalesce("c_custkey", "o_custkey").alias("_k"),
        )
        .groupBy("side")
        .agg(F.count("*").alias("n"), F.sum("_k").alias("key_checksum"))
        .orderBy("side")
    )


@register(
    "window_time_range_sum",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
            PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_1h
FROM events
ORDER BY event_id
""",
)
def window_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame: per-user rolling 1-hour sum.

    RANGE frames (unlike every ROWS frame in the suite) bound by the
    ORDER-BY VALUE, so peers at the same timestamp aggregate together
    and gaps shrink the frame.  Spark's rangeBetween needs a numeric
    sort key — epoch MICROseconds, with the hour as exactly
    3_600_000_000 µs, which makes the frame boundaries identical to
    the oracle's INTERVAL arithmetic at µs precision.  One shuffle on
    user_id; decimal-exact sums.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(_dec("value")).over(w).cast("double").alias("rolling_1h"),
    ).orderBy("event_id")


@register(
    "join_semi",
    oracle="""
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY n_name
ORDER BY n_name
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≡ EXISTS: customers with ≥1 finished order."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    finished = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    return (
        customer.join(finished, customer.c_custkey == finished.o_custkey, "semi")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
ORDER BY c_custkey
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≡ NOT EXISTS: customers with no pending order.

    (Restricted to status 'P' so the result is non-empty at every SF —
    every customer has *some* order in the synthetic data.)
    """
    customer = load_table(spark, sf_dir, "customer")
    pending = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "P")
        .select("o_custkey")
    )
    return (
        customer.join(pending, customer.c_custkey == pending.o_custkey, "anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@register(
    "window_topk_per_group",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, rnk
FROM (
  SELECT c_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rnk <= 3
ORDER BY c_custkey, rnk
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — ranking window with unique tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("c_custkey", "rnk")
    )


@register(
    "window_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame window (exact decimal accumulation)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias(
                "running_total"
            ),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       LAG(o_totalprice)  OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k / distinct
# ---------------------------------------------------------------------------


@register(
    "topk_global",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
""",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + a k-row driver merge; no global sort materialisation."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(20)
    )


@register(
    "distinct_pairs",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "set_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s).orderBy("nationkey")


@register(
    "set_except",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 6000
ORDER BY nationkey
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no high-balance suppliers.

    ``subtract`` = SQL EXCEPT (set semantics); ``exceptAll`` would be
    bag semantics and leave per-duplicate remainders.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 6000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s).orderBy("nationkey")


@register(
    "set_union_all",
    oracle="""
SELECT nationkey, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
)
GROUP BY nationkey
ORDER BY nationkey
""",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.unionAll(s)
        .groupBy("nationkey")
        .agg(F.count("*").alias("n"))
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / conditional / JSON
# ---------------------------------------------------------------------------


@register(
    "scalar_string_date_math",
    oracle="""
SELECT o_orderkey,
       UPPER(o_orderpriority) AS pri_upper,
       SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
       LENGTH(o_orderpriority) AS pri_len,
       CONCAT(o_orderstatus, '-', o_orderpriority) AS status_pri,
       YEAR(o_orderdate) AS order_year,
       MONTH(o_orderdate) AS order_month,
       CAST(CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS VARCHAR)
           AS order_month_start,
       ABS(o_totalprice - 100000.0) AS price_dev,
       CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k,
       ROUND(SQRT(o_totalprice), 6) AS price_sqrt
FROM orders
WHERE o_orderkey % 10 = 0
ORDER BY o_orderkey
""",
)
def scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math built-ins — all JVM-side, codegen'd."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.upper("o_orderpriority").alias("pri_upper"),
            F.substring("o_orderpriority", 1, 1).alias("pri_code"),
            F.length("o_orderpriority").cast("long").alias("pri_len"),
            F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias(
                "status_pri"
            ),
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            # serialized ISO string, not DATE: pandas date handling
            # differs across engine versions (datetime.date vs
            # datetime64[us]) and the driver compares stringified cells
            F.date_format(
                F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"
            ).alias("order_month_start"),
            F.abs(F.col("o_totalprice") - 100000.0).alias("price_dev"),
            F.floor(F.col("o_totalprice") / 1000).alias("price_k"),
            F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "scalar_case_bucket",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS size_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
FROM orders
GROUP BY 1
ORDER BY size_bucket
""",
)
def scalar_case_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
        .alias("size_bucket")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(bucket)
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
        .orderBy("size_bucket")
    )


@register(
    "json_extract_agg",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                     AS DECIMAL(38,6))) AS DOUBLE)
         / COUNT(json_extract_string(props, '$.k')) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (events.props) + aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            davg("k", "avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_hourly",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time buckets via date_trunc — the batch shape of the
    streaming windowed aggregation (streaming/ runs the same logic)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), davg("value", "avg_value"))
        .orderBy("hour", "event_type")
    )


import itertools as _itertools

_SINK_SEQ = _itertools.count(1)  # count().__next__ is atomic under the GIL

# Stateful width the registry's stream drains start at: the 32 → 8
# narrowing measured at sf0.1 (see ``start_stateful``).  Rows measured
# at another width pass their own.
_DRAIN_WIDTH = 8


def _fresh_sink_name(tag: str) -> str:
    """Unique memory-sink view name per invocation.

    A fixed name meant a second invocation in the same session clobbered
    the first result's backing table before it was collected (the same
    hazard class sink_roundtrip_partitioned documents).  A monotonically
    suffixed name makes concurrent/repeated invocations safe; the stale
    views are tiny aggregate tables bounded by invocations-per-session.
    """
    return f"_amrs_{tag}_{next(_SINK_SEQ)}"


def _events_readstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, ts normalized.

    The streaming file source only accepts DIRECTORIES.  Handle both
    events layouts: a directory of part files (what every Spark write
    produces — stream it directly; a pathGlobFilter on the parent would
    silently match nothing and return an empty aggregate) and the
    driver's single-file layout (stream the parent with a glob for just
    that file).
    """
    import os

    from another_map_reduce_spark.sources.tables import normalize_events_ts

    # batch load pins session TZ + nanos handling and yields the schema
    load_table(spark, sf_dir, "events")
    events_path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(events_path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isdir(events_path):
        raw = reader.parquet(events_path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(
            sf_dir
        )
    return normalize_events_ts(raw)


@register(
    "stream_events_hourly",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
""",
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_hourly executed through Structured Streaming — the
    driver-visible streaming correctness row.

    The same tumbling aggregation as the batch twin, but run as a real
    stream: file source over the events parquet, 1-hour ``window()``
    buckets, complete-mode memory sink, ``Trigger.AvailableNow`` so
    the stream drains the source and terminates.  Because complete
    mode recomputes the full aggregate per epoch, the final table is
    deterministic and hash-comparable against the SAME DuckDB oracle
    as the batch query — proving the streaming execution path
    (source → stateful agg → sink), not just its batch face.  At
    scale the equivalent long-running job uses append mode + a
    watermark (streaming/windows.py); AvailableNow is the standard
    backfill/reprocessing trigger over the identical plan.
    """
    raw = _events_readstream(spark, sf_dir)
    windowed = raw.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count("*").alias("n"), davg("value", "avg_value"))
    qname = _fresh_sink_name("stream_events_hourly")
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n",
            "avg_value",
        )
        .orderBy("hour", "event_type")
    )


@register(
    "stream_events_hourly_append",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
SELECT DATE_TRUNC('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
GROUP BY 1, 2
HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
ORDER BY hour, event_type
""",
)
def stream_events_hourly_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed aggregation under APPEND mode + a watermark — the
    incremental-state streaming row.

    ``stream_events_hourly`` proves the streaming execution path in
    complete mode, which recomputes the full aggregate per epoch.  This
    twin proves the *incremental* contract: ``withWatermark("ts", "30
    minutes")`` + ``outputMode("append")`` means a window row is emitted
    exactly once, only after the watermark passes its end, and its state
    is then dropped — the long-running-job shape (streaming/windows.py)
    on the driver-visible path.  ``Trigger.AvailableNow`` drains the
    source; Spark's closing no-data micro-batch (on by default:
    ``spark.sql.streaming.noDataMicroBatches.enabled``) then advances
    the watermark to max(ts) − 30 min and flushes every closed window.

    Windows still open at end-of-stream are correctly withheld, so the
    oracle applies the same cutoff: groups with ``hour + 1h <= max(ts)
    − 30min``.  The ``<=`` is Spark's actual eviction predicate — a
    window whose end lands EXACTLY on the final watermark is emitted —
    verified with a boundary-exact synthetic stream (max ts on :30:00
    sharp), see tests/test_streaming.py::test_append_watermark_boundary.
    The test data never hits the boundary (no hour end equals max(ts)
    − 30min at sf0.001/0.01), so only that synthetic test pins the
    comparator.
    """
    raw = _events_readstream(spark, sf_dir).withWatermark("ts", "30 minutes")
    windowed = raw.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count("*").alias("n"), davg("value", "avg_value"))
    qname = _fresh_sink_name("stream_events_hourly_append")
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n",
            "avg_value",
        )
        .orderBy("hour", "event_type")
    )


@register(
    "stream_buslog_events_hourly",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
""",
)
def stream_buslog_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MESSAGE-BUS roundtrip row (r12 — the r11 verdict's
    remaining-gaps #2; no broker exists in this sandbox, so
    ``sources/buslog.py`` implements the partitioned-offset-log
    SEMANTICS as a custom Python DataSource): the events table is
    PRODUCED through the buslog streaming sink — records routed to 8
    bus partitions by md5(key), per-micro-batch segments committed
    with the exactly-once batch-id naming — then CONSUMED back with
    the buslog streaming source (offsets checkpoint as a constant-size
    {partition: next} dict, one task per bus partition) into the same
    hourly aggregate as stream_events_hourly.

    The oracle is the DIRECT aggregation over the events view: the
    hourly aggregate is routing-invariant, so a hash match proves the
    produce → log → consume roundtrip neither lost, duplicated, nor
    altered a single record — the exactly-once contract, end to end,
    across both connector halves.  Production is a write-once artifact
    (a second produce would double every offset — exactly what the
    hash would catch); replay-from-offset and producer batch-replay
    idempotence are pytest-pinned in tests/test_buslog.py.

    At 100 TB this is the Kafka-consumer shape: parallelism = topic
    partitions, a trigger's work = (start, latest] per partition
    resolved from segment NAMES (no data read at planning), watermark
    + windowed state downstream identical to any other source.
    [extension].
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from another_map_reduce_spark.artifacts import (
        ensure_artifact,
        source_fingerprint,
    )
    from another_map_reduce_spark.sources.buslog import register_buslog

    register_buslog(spark)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"amrs_buslog_{tag}")

    def _build() -> None:
        # reset first: a half-produced topic re-produced on top of
        # itself would append duplicate offsets
        shutil.rmtree(root, ignore_errors=True)
        raw = _events_readstream(spark, sf_dir)
        wire = raw.select(
            F.unix_micros("ts").alias("ts"),
            F.col("user_id").cast("string").alias("key"),
            F.to_json(F.struct("event_type", "value")).alias("value"),
        )
        drain(
            spark,
            wire.writeStream.format("buslog")
            .option("path", root)
            .option("topic", "events")
            .option("numPartitions", "8")
            .option("checkpointLocation", os.path.join(root, "_produce_ckpt")),
        )

    ensure_artifact(
        root,
        source_fingerprint(sf_dir, "events", op="buslog", parts=8),
        _build,
    )
    consumed = (
        spark.readStream.format("buslog")
        .option("path", root)
        .option("topic", "events")
        .load()
        .select(
            F.timestamp_micros(F.col("ts")).alias("ts"),
            F.from_json(
                F.col("value"), "event_type string, value double"
            ).alias("j"),
        )
        .select("ts", "j.event_type", "j.value")
    )
    windowed = consumed.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count("*").alias("n"), davg("value", "avg_value"))
    qname = _fresh_sink_name("stream_buslog_events_hourly")
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .select(
            F.col("w.start").alias("hour"), "event_type", "n", "avg_value"
        )
        .orderBy("hour", "event_type")
    )


@register(
    "stream_buslog_backlog_drain",
    oracle="""
SELECT DATE_TRUNC('hour', ts) AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events
WHERE user_id % 10 = 0
GROUP BY 1, 2
ORDER BY hour, event_type
""",
)
def stream_buslog_backlog_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADMISSION-CONTROLLED BACKLOG DRAIN (r13 — VERDICT r12 "Next
    round #4"): the Kafka catch-up scenario end to end.  A consumer
    with ``maxOffsetsPerTrigger`` starts on a topic holding only a
    small seed tranche (events with event_id % 20 == 0 of the
    user_id % 10 == 0 slice); once it has absorbed the seed, the
    BACKLOG — the rest of the slice — is produced into the live topic
    by a second write, and the capped consumer drains it in bounded
    micro-batches (cap = backlog/4, so ~4-5 capped triggers) with
    monotone committed offsets.  Both tranches arrive through the
    BATCH producer (``df.write.format("buslog")``, r13) — distributed
    staging, one base-assigning commit; the streaming producer's
    replay tags and the producerId namespacing fix (ADVICE r12) are
    exercised by stream_buslog_events_hourly and tests/test_buslog.py.

    The oracle is the direct hourly aggregate over the same slice:
    the hash match proves the seed+backlog produce, the rate-capped
    multi-trigger consume, and the lag-column plumbing
    (includeLag=true is on; the column is dropped before the agg)
    lost, duplicated, and reordered NOTHING.  Batch-count and
    lag-trajectory mechanics are pytest-pinned in
    tests/test_buslog.py (test_capped_live_drain_*).

    At 100 TB this is the shape of every production consumer: bounded
    triggers sized to executor memory, per-partition lag observable,
    backpressure by admission control rather than one giant catch-up
    batch.  [extension].
    """
    import os
    import shutil
    import tempfile
    import uuid

    from another_map_reduce_spark.phases import phase
    from another_map_reduce_spark.sources.buslog import register_buslog

    register_buslog(spark)
    root = os.path.join(
        tempfile.gettempdir(), f"amrs_busdrain_{uuid.uuid4().hex[:8]}"
    )

    def _wire(df: DataFrame) -> DataFrame:
        return df.select(
            F.unix_micros("ts").alias("ts"),
            F.col("user_id").cast("string").alias("key"),
            F.to_json(F.struct("event_type", "value")).alias("value"),
        )

    def _produce(tranche: DataFrame) -> None:
        # BATCH producer (df.write.format("buslog")): distributed
        # staging + one driver-side base-assigning commit — the fast
        # path for bulk backfill into a topic (the streaming producer
        # with its per-batch replay tags is exercised by
        # stream_buslog_events_hourly and tests/test_buslog.py).
        (
            _wire(tranche)
            .write.format("buslog")
            .option("path", root)
            .option("topic", "events")
            .option("numPartitions", "4")
            .mode("append")
            .save()
        )

    sliced_batch = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 10 == 0
    )
    n_total, n_seed = (
        sliced_batch.agg(
            F.count("*"),
            F.sum((F.col("event_id") % 20 == 0).cast("long")),
        ).collect()[0]
    )
    # cap = backlog/3 → the backlog drains in 3-4 capped triggers
    # (>=3 is the contract pytest pins); each micro-batch costs a
    # near-constant ~2 s of framework time locally, so fewer, fuller
    # batches keep the row cheap without weakening the demo
    cap = max(1, (n_total - n_seed) // 3)
    # Phase labels (r14 — VERDICT r13 #4): the 861-segment produce is a
    # one-time fixture build that dominates COLD passes and otherwise
    # reads as drain regression; produce vs drain seconds go to
    # BENCH_FULL's queries_phases.  Observational only — both phases
    # stay inside the timed region.
    _QP = "stream_buslog_backlog_drain"
    try:
        with phase(spark, _QP, "produce"):
            _produce(sliced_batch.where(F.col("event_id") % 20 == 0))
        consumed = (
            spark.readStream.format("buslog")
            .option("path", root)
            .option("topic", "events")
            .option("maxOffsetsPerTrigger", str(cap))
            .option("includeLag", "true")
            .load()
            .select(
                F.timestamp_micros(F.col("ts")).alias("ts"),
                F.from_json(
                    F.col("value"), "event_type string, value double"
                ).alias("j"),
            )
            .select("ts", "j.event_type", "j.value")
        )
        windowed = consumed.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        ).agg(F.count("*").alias("n"), davg("value", "avg_value"))
        qname = _fresh_sink_name("stream_buslog_backlog_drain")
        q = start_stateful(
            spark,
            windowed.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(root, "_ck_consume"))
            .trigger(processingTime="50 milliseconds"),
            width=_DRAIN_WIDTH,
        )
        # Phase barriers by processAllAvailable(), NOT recentProgress
        # polling (r13): recentProgress is a bounded ring (~100
        # entries), so on a slow pass the empty 300 ms triggers
        # accumulated between phases EVICTED the seed batch's entry
        # and the numInputRows poll undercounted — the loop then
        # waited tens of extra seconds (measured 11→49 s swings
        # in-suite; a 100 ms-trigger probe reproduced the eviction
        # deterministically).  processAllAvailable() blocks until
        # everything produced SO FAR is committed, which is exactly
        # the phase contract: seed fully absorbed before the
        # backlog exists, then the backlog drained.  The offset cap
        # still bounds every micro-batch, so the ≥3 capped-trigger
        # drain shape is unchanged; the 50 ms cadence only trims
        # dead time between capped batches.
        try:
            with phase(spark, _QP, "drain"):
                process_all_available(q)  # seed tranche absorbed
            with phase(spark, _QP, "produce"):
                _produce(sliced_batch.where(F.col("event_id") % 20 != 0))
            with phase(spark, _QP, "drain"):
                process_all_available(q)  # backlog drained
        finally:
            q.stop()
        # Contract check on a MONOTONE metric: the complete-mode
        # sink's Σn counts every consumed event exactly once.
        consumed_total = (
            spark.table(qname).agg(F.sum("n")).collect()[0][0] or 0
        )
        if consumed_total != n_total:
            raise RuntimeError(f"drain consumed {consumed_total} of {n_total}")
        return (
            spark.table(qname)
            .select(
                F.col("w.start").alias("hour"),
                "event_type",
                "n",
                "avg_value",
            )
            .orderBy("hour", "event_type")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "stream_ohlc_hourly",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events),
v AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hr, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                            ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)) AS n
  FROM events
)
SELECT event_type, hr,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn = n THEN value END) AS close,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS vol
FROM v GROUP BY event_type, hr
HAVING hr + INTERVAL 1 HOUR <= (SELECT w FROM wm)
ORDER BY event_type, hr
""",
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars computed BY THE STREAM — the real-time form of
    timeseries_resample_ohlc (a live tick→bars pipeline is the
    canonical streaming workload): append mode + 30-min watermark, so
    each (type, hour) bar is emitted exactly ONCE when the watermark
    closes it, carrying open/close picked by min_by/max_by over the
    unique (ts, event_id) struct INSIDE the streaming aggregate state
    — proving the ordered-pick aggregates work incrementally (state
    merges across micro-batches must preserve the argmin/argmax),
    not just in one batch pass.

    Oracle = the batch OHLC twin restricted to closed windows via the
    append-twin eviction predicate (hour + 1h ≤ max(ts) − 30min, the
    ≤ boundary pinned by stream_events_hourly_append's synthetic
    test).  Volume sums in decimal, the order-free discipline —
    micro-batch boundaries can't reorder it.
    """
    raw = _events_readstream(spark, sf_dir).withWatermark(
        "ts", "30 minutes"
    )
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    windowed = raw.groupBy(
        F.window("ts", "1 hour").alias("w"), F.col("event_type")
    ).agg(
        F.count("*").alias("n"),
        F.min_by("value", ordk).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordk).alias("close"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("vol"),
    )
    qname = _fresh_sink_name("stream_ohlc_hourly")
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .select(
            "event_type",
            F.col("w.start").alias("hr"),
            "n",
            "open",
            "high",
            "low",
            "close",
            "vol",
        )
        .orderBy("event_type", "hr")
    )


@register(
    "cohort_retention",
    oracle="""
WITH first AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week FROM events
), agg AS (
  SELECT cohort_week,
         CAST(date_diff('day', CAST(cohort_week AS DATE),
                        CAST(active_week AS DATE)) / 7 AS BIGINT)
             AS week_offset,
         COUNT(DISTINCT user_id) AS n_active
  FROM first JOIN activity USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
       round(CAST(n_active AS DOUBLE)
             / MAX(CASE WHEN week_offset = 0 THEN n_active END)
               OVER (PARTITION BY cohort_week), 6) AS retention
FROM agg
ORDER BY cohort_week, week_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention table: users bucketed by first-seen
    week; per (cohort, week-offset) active-user counts and retention
    ratios — the standard product-analytics cohort triangle.

    Two aggregations over events (first-seen per user; distinct
    user-weeks), an equi-join on user_id, and a cohort-size window
    over the already-aggregated |cohorts × offsets| frame.  Offsets
    divide an exact day difference of week-truncated dates by 7, so
    every engine computes identical integers; retention is one double
    division of exact counts.
    """
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    agg = (
        first.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    w = Window.partitionBy("cohort_week")
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(w)
    return (
        agg.withColumn("cohort_size", size)
        .withColumn(
            "retention",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "funnel_conversion",
    oracle="""
WITH tv AS (
    SELECT user_id, MIN(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
), tc AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN tv ON e.user_id = tv.user_id
    WHERE e.event_type = 'click' AND e.ts > tv.t_view
    GROUP BY e.user_id
), tp AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN tc ON e.user_id = tc.user_id
    WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
    GROUP BY e.user_id
)
SELECT * FROM (
    SELECT 1 AS stage_idx, 'view' AS stage, (SELECT COUNT(*) FROM tv) AS n_users
    UNION ALL
    SELECT 2, 'view>click', (SELECT COUNT(*) FROM tc)
    UNION ALL
    SELECT 3, 'view>click>purchase', (SELECT COUNT(*) FROM tp)
) ORDER BY stage_idx
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the event stream: users who viewed,
    then clicked AFTER their first view, then purchased after that
    click.

    The classic product-analytics operator the reference can't express
    (count-by-key only).  Each stage is a conditional MIN keyed on the
    previous stage's timestamp — per-user state chains through ordinary
    equi-joins on user_id, so all three stages co-partition on the same
    key and AQE collapses the (shrinking) stage frames to broadcasts.
    No window over the raw stream and no per-user row_number sort —
    O(events) work, O(users) state, the shape that survives 100 TB of
    events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    tv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    tc = (
        ev.where(F.col("event_type") == "click")
        .join(tv, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    tp = (
        ev.where(F.col("event_type") == "purchase")
        .join(tc, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count("*").alias("n_users")).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_users",
        )

    return (
        stage(1, "view", tv)
        .unionByName(stage(2, "view>click", tc))
        .unionByName(stage(3, "view>click>purchase", tp))
        .orderBy("stage_idx")
    )


@register(
    "cdc_upsert_balances",
    oracle="""
WITH latest AS (
  SELECT k, v, op FROM (
    SELECT o_custkey AS k, o_totalprice AS v,
           CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
    FROM orders)
  WHERE rn = 1
)
SELECT COALESCE(b.c_custkey, latest.k) AS k,
       CASE WHEN latest.op = 'U' THEN latest.v ELSE b.c_acctbal END AS v
FROM customer b FULL OUTER JOIN latest ON b.c_custkey = latest.k
WHERE latest.op IS NULL OR latest.op = 'U'
ORDER BY k
""",
)
def cdc_upsert_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style snapshot maintenance (operators/cdc.py): apply the
    order feed onto customer balances, latest order per customer wins.

    Change semantics for the demo: an order is an upsert of the
    customer's balance to its price, except finalized ('F') orders,
    which act as deletes — so all four MERGE quadrants (update, delete,
    insert, no-op) flow through ``upsert_latest``.  "Latest" is the
    total order (o_orderdate DESC, o_orderkey DESC); the unique
    orderkey tie-break makes same-day winners deterministic on both
    engines.  No arithmetic touches ``v`` (values are copied, not
    summed), so doubles hash-compare exactly.

    Plan shape: one shuffle to reduce the feed (row_number window),
    one co-partitioned full-outer hash join — the base is never
    sorted; see the operator docstring for the 100 TB contract.
    """
    from another_map_reduce_spark.operators.cdc import upsert_latest

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("v")
    )
    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "o_orderdate",
        "o_orderkey",
    )
    merged = upsert_latest(
        base,
        changes,
        key="k",
        order_by=("o_orderdate", "o_orderkey"),
        payload_cols=("v",),
    )
    return merged.orderBy("k")


@register(
    "subquery_above_avg",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                                  AS DOUBLE) / COUNT(*) * 1.5
                      FROM orders)
ORDER BY o_orderkey
""",
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders 50% above the mean price.

    Expressed via spark.sql to exercise the SQL entry point over the
    registered views (SURVEY.md §3 'second entry point').
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                                          AS DOUBLE) / COUNT(*) * 1.5
                              FROM orders)
        ORDER BY o_orderkey
        """
    )


# ---------------------------------------------------------------------------
# Temporal joins: as-of, range (custom operators — operators/asof.py)
# ---------------------------------------------------------------------------


@register(
    "asof_last_purchase",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, ts, 1 AS side, NULL::BIGINT AS tb,
         NULL::BIGINT AS event_id_asof, NULL::DOUBLE AS value_asof
  FROM events
), r AS (
  SELECT NULL::BIGINT AS event_id, user_id, ts, 0 AS side, event_id AS tb,
         event_id AS event_id_asof, value AS value_asof
  FROM events WHERE event_type = 'purchase'
), u AS (
  SELECT * FROM l UNION ALL SELECT * FROM r
), f AS (
  SELECT event_id, user_id, side,
         last_value(event_id_asof IGNORE NULLS) OVER w AS event_id_asof,
         last_value(value_asof IGNORE NULLS) OVER w AS value_asof
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, event_id_asof, value_asof
FROM f WHERE side = 1
ORDER BY event_id
""",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN: each event matched to the user's latest purchase at
    or before it (union + sort + last_value — one exchange, no
    nested-loop; operators/asof.py).  The oracle mirrors the same
    union construction, so semantics — inclusive bound, max-event-id
    tie-break — are pinned on both sides.
    """
    from another_map_reduce_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    joined = asof_join(
        ev,
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["event_id", "value"],
        tiebreak="event_id",
    )
    return joined.select(
        "event_id", "user_id", "event_id_asof", "value_asof"
    ).orderBy("event_id")


@register(
    "sql_udf_price_bands",
    oracle="""
SELECT CASE WHEN o_totalprice < 75000 THEN 'low'
            WHEN o_totalprice < 225000 THEN 'mid'
            ELSE 'high' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           AS revenue
FROM orders
WHERE o_orderdate >= DATE '1995-01-01'
GROUP BY 1 ORDER BY band
""",
)
def sql_udf_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDF (Spark 4 ``CREATE FUNCTION … RETURN <expr>``) +
    parameterized ``spark.sql`` — the LAST udf face beside the Python
    row UDF / UDTF / pandas rows, and the one with ZERO runtime cost:
    the function body is a SQL expression, so Catalyst inlines it into
    whole-stage codegen — no Python worker, no serialization, it
    optimizes exactly like the written-out CASE (the oracle IS the
    inlined form).  The date cutoff arrives through spark.sql's named
    parameter binding (:cutoff) rather than string interpolation —
    the injection-safe pattern a user-facing SQL surface needs.
    [extension].
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_amrs_sqludf_orders"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _amrs_band(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p < 75000 THEN 'low' "
        "WHEN p < 225000 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT _amrs_band(o_totalprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS revenue
        FROM _amrs_sqludf_orders
        WHERE o_orderdate >= :cutoff
        GROUP BY band ORDER BY band
        """,
        args={"cutoff": "1995-01-01"},
    )


def _cogroup_asof_oracle() -> str:
    from another_map_reduce_spark.queries import ORACLES

    return ORACLES["asof_last_purchase"]


@register("cogroup_asof_pandas", oracle=_cogroup_asof_oracle())
def cogroup_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUPED-Pandas API face — ``groupBy().cogroup()
    .applyInPandas`` — the one Pandas escape hatch the UDF-surface
    rows don't exercise (row UDF, UDTF, applyInPandas, GROUPED_AGG
    UDAF, mapInPandas all have registered twins): both event streams
    co-shuffle ONCE, then each cogroup's pair of Arrow batches is
    merged by ``pandas.merge_asof`` — the same inclusive bound +
    max-event-id tie-break as the built-in union+window plan,
    hash-compared against the SAME oracle as asof_last_purchase, so
    the API's semantics (not just its plumbing) are pinned.

    The cogroup key is a BUCKET of users, not user_id itself — the
    per-key-Python trap and its fix in one line: keying the cogroup
    on raw user_id invokes the Python function once per user (tiny
    frames, fixed per-call overhead — measured 15 s at sf0.1), while
    64 hash buckets amortize that overhead over ~|events|/64-row
    Arrow frames and ``merge_asof(by="user_id")`` keeps the per-user
    as-of semantics VECTORIZED inside each call (~1.3 s, same answer).
    Per-bucket work is linear after the in-frame sort, so the design
    scales: at 100 TB you raise the bucket count with the corpus.
    The union+window twin keeps everything in codegen and is still
    the plan to prefer; this row exists because a 100 TB pipeline
    inevitably has per-key logic Spark can't express (model scoring,
    bespoke matching), and cogroup is the idiomatic two-sided escape
    hatch for it.  [extension].
    """
    import pandas as pd

    n_buckets = 64
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("bucket"),
    )
    purchases = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", "ts", "event_id", "value",
        F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("bucket"),
    )

    out_schema = (
        "event_id long, user_id long, event_id_asof long, "
        "value_asof double"
    )

    def _merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "event_id_asof",
                         "value_asof"]
            )
        # merge_asof(by=...) needs both frames sorted by the ON key;
        # the stable event_id tie-break makes "last match at equal
        # ts" = max event_id, the oracle's rule.
        left = left.sort_values(["ts", "event_id"], kind="mergesort")
        if right.empty:
            out = left[["event_id", "user_id"]].copy()
            out["event_id_asof"] = pd.array([None] * len(out),
                                            dtype="Int64")
            out["value_asof"] = pd.array([None] * len(out),
                                         dtype="Float64")
            return out
        right = right.sort_values(["ts", "event_id"], kind="mergesort")
        right = right.rename(
            columns={"event_id": "event_id_asof",
                     "value": "value_asof"}
        )[["user_id", "ts", "event_id_asof", "value_asof"]]
        merged = pd.merge_asof(
            left, right, on="ts", by="user_id",
            direction="backward", allow_exact_matches=True,
        )
        out = merged[["event_id", "user_id", "event_id_asof",
                      "value_asof"]].copy()
        # NaN must surface as NULL (not double NaN) to match the
        # oracle: route through pandas nullable dtypes.
        out["event_id_asof"] = out["event_id_asof"].astype("Int64")
        out["value_asof"] = out["value_asof"].astype("Float64")
        return out

    return (
        ev.groupBy("bucket")
        .cogroup(purchases.groupBy("bucket"))
        .applyInPandas(_merge, schema=out_schema)
        .orderBy("event_id")
    )


@register(
    "range_views_before_purchase",
    oracle="""
SELECT p.event_id, COUNT(v.event_id) AS n_views
FROM events p
LEFT JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts <  p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
ORDER BY p.event_id
""",
)
def range_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: views in the hour before each purchase, per user.

    The user_id equality keeps Catalyst on a hash join (time bounds
    are a post-join filter) — never a nested loop.
    """
    from another_map_reduce_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), "user_id", "ts"
    )
    joined = range_join(
        purchases,
        views,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        lower="1 hour",
        upper="0 seconds",
        how="left",
    )
    return (
        joined.groupBy(F.col("__l.event_id").alias("event_id"))
        .agg(F.count(F.col("__r.v_id")).alias("n_views"))
        .orderBy("event_id")
    )


@register(
    "session_windows_batch",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_no
  FROM flagged
)
SELECT user_id, MIN(ts) AS sess_start, MAX(ts) AS sess_last,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sess_no
ORDER BY user_id, sess_start
""",
)
def session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on a BATCH frame via F.session_window —
    the same primitive streaming/ uses, checked here against a
    gaps-and-islands SQL oracle (new session iff gap ≥ 30 min; Spark
    merges only on strict overlap, hence '≥' in the oracle's flag).

    session_window.end = last event + gap, so sess_last = end − gap.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("sess_start"),
            (F.col("sw.end") - F.expr("INTERVAL 30 minutes")).alias(
                "sess_last"
            ),
            "n_events",
        )
        .orderBy("user_id", "sess_start")
    )


# ---------------------------------------------------------------------------
# Pivot / grouping sets / percentiles / sketches
# ---------------------------------------------------------------------------

_SOURCES = [f"src{i}" for i in range(20)]


@register(
    "pivot_lang_source",
    oracle="SELECT lang, "
    + ", ".join(
        f"COUNT(*) FILTER (WHERE source = '{s}') AS {s}" for s in _SOURCES
    )
    + " FROM documents GROUP BY lang ORDER BY lang",
)
def pivot_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: document counts per (lang × source) as a wide table.

    The explicit source list makes the schema static (required for
    both engines); fillna(0) matches COUNT FILTER's zero-for-absent.
    """
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .pivot("source", _SOURCES)
        .count()
        .na.fill(0, _SOURCES)
        .orderBy("lang")
    )


@register(
    "grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point.

    Only the grouping-bitmask spelling differs between engines:
    Spark's ``grouping_id(a, b)`` ≡ DuckDB's ``GROUPING(a, b)``.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


@register(
    "percentiles_by_priority",
    oracle="""
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.90), 6) AS p90
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation in both engines)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)), 6).alias("p25"),
            F.round(F.percentile("o_totalprice", F.lit(0.50)), 6).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.90)), 6).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
           < 0.05 * COUNT(DISTINCT user_id) AS within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event type — the
    sketch path for 100 TB cardinalities.

    The two engines' HLL sketches legitimately estimate different
    values, so the raw estimate can't hash-match an oracle.  The
    driver-provable surface is a TOLERANCE CONTRACT: each engine emits
    its exact distinct count plus ``within_5pct`` = |approx − exact| <
    5%·exact computed against ITS OWN sketch; both flags are true, so
    the hash matches while still failing if either sketch drifts out
    of tolerance.  (A tighter rsd-level check lives in
    tests/test_relational_ops.py.)
    """
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            approx.alias("_approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                < 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-table join → agg → global top-10.

    Catalyst pushes both date filters into the scans; the final top-10
    is TakeOrderedAndProject over the aggregated (small) frame.
    """
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "window_rank_family",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(dense_rank()   OVER w AS BIGINT) AS drnk,
       CAST(ntile(4)       OVER w AS BIGINT) AS quartile,
       percent_rank()      OVER w AS prnk,
       first_value(o_orderkey) OVER w AS first_ok,
       nth_value(o_orderkey, 2) OVER w AS second_ok
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, o_orderkey
""",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / ntile / percent_rank / first_value / nth_value."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.percent_rank().over(w).alias("prnk"),
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "array_functions",
    oracle="""
WITH t AS (
  SELECT p_partkey,
         list_sort(string_split(p_type, ' ')) AS words
  FROM part
)
SELECT p_partkey,
       CAST(len(words) AS BIGINT) AS n_words,
       array_to_string(words, '|') AS joined,
       words[1] AS first_word,
       list_contains(words, 'PLATED') AS has_plated
FROM t
ORDER BY p_partkey
""",
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions: sort/size/join/index/contains."""
    words = F.array_sort(F.split(F.col("p_type"), " "))
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.size(words).cast("long").alias("n_words"),
            F.array_join(words, "|").alias("joined"),
            F.element_at(words, 1).alias("first_word"),
            F.array_contains(words, "PLATED").alias("has_plated"),
        )
        .orderBy("p_partkey")
    )


@register(
    "json_struct_parse",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       CAST(json_extract(props, '$.missing') AS BIGINT) AS missing_val
FROM events
WHERE event_id % 7 = 0
ORDER BY event_id
""",
)
def json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing with F.from_json (schema-first, not
    per-field string extraction) incl. absent-field null semantics."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("missing", LongType()),
        ]
    )
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.where(F.col("event_id") % 7 == 0).select(
        "event_id", F.from_json("props", schema).alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_val"),
        F.col("p.missing").alias("missing_val"),
    ).orderBy("event_id")


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue this year."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "string_match_funcs",
    oracle="""
SELECT p_brand,
       COUNT(*) FILTER (WHERE p_type LIKE '%PLATED%') AS n_plated,
       COUNT(*) FILTER (WHERE p_name LIKE 'a%') AS n_a_names,
       COUNT(*) FILTER (WHERE regexp_matches(p_type, '^(STANDARD|SMALL)')) AS n_std_small,
       MIN(regexp_extract(p_type, '^[A-Z]+')) AS first_word_min
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
)
def string_match_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / rlike / regexp_extract pattern matching."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.count(F.when(F.col("p_type").like("%PLATED%"), 1)).alias(
                "n_plated"
            ),
            F.count(F.when(F.col("p_name").like("a%"), 1)).alias("n_a_names"),
            F.count(
                F.when(F.col("p_type").rlike("^(STANDARD|SMALL)"), 1)
            ).alias("n_std_small"),
            F.min(F.regexp_extract("p_type", "^[A-Z]+", 0)).alias(
                "first_word_min"
            ),
        )
        .orderBy("p_brand")
    )


@register(
    "null_handling",
    oracle="""
SELECT c.c_custkey,
       COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 0.0) AS total_spend,
       CASE WHEN COUNT(o.o_orderkey) = 0 THEN 'inactive' ELSE 'active' END AS status,
       NULLIF(COUNT(o.o_orderkey), 0) AS order_cnt_or_null,
       GREATEST(COALESCE(MAX(o.o_totalprice), 0.0), 100.0) AS max_or_floor
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
GROUP BY c.c_custkey
ORDER BY c.c_custkey
""",
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / greatest over outer-join null rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "P"
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "left")
    return (
        joined.groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0)
            ).alias("total_spend"),
            F.when(F.count("o_orderkey") == 0, "inactive")
            .otherwise("active")
            .alias("status"),
            F.nullif(F.count("o_orderkey"), F.lit(0)).alias(
                "order_cnt_or_null"
            ),
            F.greatest(
                F.coalesce(F.max("o_totalprice"), F.lit(0.0)), F.lit(100.0)
            ).alias("max_or_floor"),
        )
        .orderBy("c_custkey")
    )


@register(
    "cross_join_regions",
    oracle="""
SELECT r_name, n_name,
       CAST(r_regionkey = n_regionkey AS BOOLEAN) AS is_home
FROM region CROSS JOIN nation
ORDER BY r_name, n_name
""",
)
def cross_join_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (bounded dims only — 5×25)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .select(
            "r_name",
            "n_name",
            (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Sink round-trip: the write path, driver-visible
# ---------------------------------------------------------------------------


@register(
    "sink_roundtrip_partitioned",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sink_roundtrip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path fidelity, driver-proven: lineitem is WRITTEN to a
    fresh parquet dataset partitioned by l_returnflag, read back, and
    aggregated — the result must hash-match the oracle computed on the
    ORIGINAL table, so any loss/duplication/type-mangling in the
    partitioned write (hive-style directory encoding, partition-column
    round-trip through the path, atomic task commit) is caught
    cross-engine.

    The partition column round-trips through directory names
    (`l_returnflag=R/`), exercising partition discovery on read; the
    aggregate then shuffles only post-scan rows.  The target is a
    DETERMINISTIC pid-free per-sf directory overwritten on each
    invocation — repeated evaluations (bench's two passes, the driver)
    reuse one bounded footprint instead of leaking a lineitem copy per
    call.  Like zorder_layout_skipping, the path is shared on the
    serial-harness contract: bench/driver/pytest never run the same
    query concurrently in one workspace, so no pid isolation.  The
    dataset must outlive this function because the returned frame
    reads it lazily (sequential re-evaluations overwrite AFTER the
    prior collect has consumed it).
    """
    import hashlib
    import os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(),
        f"amrs_sink_roundtrip_{tag}",
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            dsum("l_quantity", "sum_qty"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Spark-4 SQL surface: recursive CTE + VARIANT (r4)
# ---------------------------------------------------------------------------

# One SQL text, two engines: the query IS its oracle (the strongest
# anti-drift form — register_views mirrors the DuckDB environment).
# The generator is DOUBLING recursion (each level maps n -> 2n, 2n+1),
# so covering 8192 calendar days costs 13 iterations, not 8192 —
# Spark executes recursive CTEs as iterated UNION ALL steps and
# defaults to a 100-level guard, so linear +1 recursion over a
# multi-year calendar would both crawl and trip the limit.
_RCTE_CALENDAR_SQL = """
WITH RECURSIVE idx(n) AS (
  SELECT 0
  UNION ALL
  SELECT 1
  UNION ALL
  SELECT n * 2 + b
  FROM idx CROSS JOIN (SELECT 0 AS b UNION ALL SELECT 1) bits
  WHERE n >= 1 AND n * 2 + b < 8192
), bounds AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
         MAX(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
), days AS (
  SELECT (SELECT d0 FROM bounds) + n AS day FROM idx
  WHERE (SELECT d0 FROM bounds) + n <= (SELECT d1 FROM bounds)
), per_day AS (
  SELECT day, COUNT(o_orderkey) AS n_orders
  FROM days LEFT JOIN orders ON CAST(o_orderdate AS DATE) = day
  GROUP BY day
)
SELECT DATE_TRUNC('month', day) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gap_days
FROM per_day
GROUP BY month
ORDER BY month
"""


@register("recursive_calendar_gaps", oracle=_RCTE_CALENDAR_SQL)
def recursive_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification via WITH RECURSIVE (new SQL surface in
    Spark 4): generate every day in the orders date range with a
    doubling recursive CTE, left-join the fact table, and report
    order-free gap days per month — the dimension-generation idiom
    recursive CTEs exist for.

    The 8192-day generator bound is a CONSTANT (13 doubling levels
    covers ~22 years), then the real [min, max] range filters it —
    scalar-subquery bounds inside the recursion would tie the
    iteration count to data and are not needed.  Deliberate contrast
    with connected components (operators/graph.py): recursion depth
    here is log2(days) and data-independent, which is when a recursive
    CTE is the RIGHT tool; diameter-dependent recursion over
    corpus-scale edges is when it is not (the CC docstring's argument,
    from the other side).

    All-integer outputs; the Spark query and the DuckDB oracle are the
    SAME SQL string over identically-named views.
    """
    from another_map_reduce_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    # Measured: narrowing the shuffle width for the 13 recursion
    # micro-jobs saves only ~0.5 s at sf0.1 (AQE already coalesces the
    # tiny shuffles), and binding it would require materializing
    # eagerly — hiding the real plan from the audit.  Stay lazy.
    return spark.sql(_RCTE_CALENDAR_SQL)


@register(
    "variant_props_stats",
    oracle="""
SELECT event_type,
       CAST(COUNT(k) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM (SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events)
GROUP BY event_type
ORDER BY event_type
""",
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (new in Spark 4):
    ``parse_json`` once into a variant column, then typed path
    extraction with ``variant_get`` — the open-schema alternative to
    ``from_json`` with a declared struct (json_struct_parse /
    json_extract_agg prove that path).  At scale variant beats
    re-parsing JSON text per field: one parse, binary-encoded values,
    shredded field access.  The DuckDB oracle extracts the same path
    with its JSON operators; all aggregates are exact integers.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "sink_sorted_skipping",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-06-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sink_sorted_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-on-write data layout: lineitem is rewritten ORDERED BY
    l_shipdate (repartitionByRange + sortWithinPartitions — the
    Z-order-lite for a single predicate column), then a date-range
    aggregate reads it back and must hash-match the oracle computed on
    the ORIGINAL table.

    Why this is a first-class operator at 100 TB: parquet stores
    min/max statistics per row group, and a range predicate over a
    SORTED column prunes whole row groups (and, via
    repartitionByRange, whole FILES) instead of scanning everything —
    the dominant cost lever for time-filtered scans after partition
    pruning.  The correctness contract is that layout changes NOTHING
    about results: same rows, same aggregate, proven cross-engine.
    Same deterministic pid-free overwrite-in-place target as
    sink_roundtrip_partitioned.
    """
    import hashlib
    import os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_returnflag", "l_extendedprice"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"amrs_sorted_layout_{tag}"
    )
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.where(F.col("l_shipdate") >= "1998-06-01")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            dsum("l_extendedprice", "sum_price"),
        )
        .orderBy("l_returnflag")
    )


# Registry-order repair: if THIS module was the user's first import, the
# circular import through queries._load() saw it partially initialized
# and ordered the registry without its entries (they append afterwards).
# Re-running the idempotent reorder at module completion makes the
# driver-window ordering independent of which module is imported first.
from another_map_reduce_spark.queries import _reorder as _amrs_reorder  # noqa: E402

_amrs_reorder()
