"""Core relational surface — the SELECT grammar the reference's gate admits.

The reference delegates this entire surface to DuckDB (reference:
src/iceberg_explorer/query/executor.py:254, gate at :43-116); here each
category from SURVEY.md §2B is a first-class Spark DataFrame pipeline with a
DuckDB oracle. Catalyst supplies pushdown/pruning/join-selection; the builders
only add hints Catalyst can't infer (broadcast of fixed-cardinality dims).

Scale notes:
- region/nation are fixed-cardinality → always `F.broadcast`.
- customer/part/supplier/orders scale with SF → no forced broadcast; AQE
  converts to broadcast at runtime when a filtered side is small.
- Aggregations are expressed groupBy().agg() → Spark plans partial (map-side)
  + final aggregation automatically; no `.collect()` driver loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from iceberg_explorer_spark.functions.deterministic import (
    avg_exact,
    dec,
    money,
    sum_money,
)
from iceberg_explorer_spark.operators.registry import query
from iceberg_explorer_spark.sources.registry import load_table, register_tables


# ---------------------------------------------------------------------------
# Aggregation: full-scan grouped aggregate (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
           AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                    * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6)))
           AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Grouped aggregate over the fact table with exact decimal money math "
    "internally, surfaced as double (SURVEY §2B aggregations; reference "
    "golden-value tests tests/test_executor.py:414-422).",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = (disc_price * (F.lit(1) + dec("l_tax"))).cast("decimal(18,6)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_money("l_quantity").alias("sum_qty"),
        sum_money("l_extendedprice").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        avg_exact("l_quantity").alias("avg_qty"),
        avg_exact("l_extendedprice").alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Scan / projection / filter with pushdown
# ---------------------------------------------------------------------------
@query(
    "filter_projection",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS total_price,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice > 400000.0
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
    doc="Projection + conjunctive predicates; filters and the 4-column "
    "ReadSchema push into the parquet scan (check .explain PushedFilters).",
)
def filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 400000.0)
            & (F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            money("o_totalprice").alias("total_price"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way join + aggregation (broadcast dims)
# ---------------------------------------------------------------------------
@query(
    "join_revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="4-way fact/dim join: fixed-cardinality nation/region broadcast, "
    "customer⋈orders⋈lineitem shuffle on their keys; AQE may re-plan. "
    "(SURVEY §2B joins; reference tests/test_executor.py:92-98.)",
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Outer joins
# ---------------------------------------------------------------------------
@query(
    "left_join_order_lines",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(COALESCE(lc.n_lines, 0)) AS BIGINT) AS total_lines
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    ) lc ON o.o_orderkey = lc.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Left outer join against a pre-aggregated subquery; the pre-agg "
    "shrinks the shuffle (partial aggregation before the join).",
)
def left_join_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    line_counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        orders.join(line_counts, orders.o_orderkey == line_counts.l_orderkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.coalesce(F.col("n_lines"), F.lit(0)))
            .cast("bigint")
            .alias("total_lines"),
        )
    )


@query(
    "full_outer_nation_balance",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_customers,
           COALESCE(s.n_supp, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
    ON c.nk = s.nk
    """,
    doc="Full outer join of two aggregates (SURVEY §2B joins — full).",
)
def full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
        F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (EXISTS / NOT EXISTS)
# ---------------------------------------------------------------------------
@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
    )
    GROUP BY c.c_mktsegment
    """,
    doc="Left-semi join = EXISTS; Spark never materializes the right side "
    "columns, so the shuffle carries only the join key.",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000.0
    )
    return (
        customer.join(
            big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "anti_join_idle_customers",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_idle
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    GROUP BY c.c_mktsegment
    """,
    doc="Left-anti join = NOT EXISTS (SURVEY §2B joins — anti).",
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_idle"))
    )


@query(
    "cross_join_region_status",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    doc="Cross join of two tiny relations (reference uses a cross join as its "
    "slow-query fixture, tests/test_executor.py:370).",
)
def cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


# ---------------------------------------------------------------------------
# Distinct aggregation / rollup / cube / grouping sets / pivot
# ---------------------------------------------------------------------------
@query(
    "distinct_customers_per_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="COUNT(DISTINCT) — Spark plans expand+two-phase aggregation; at scale "
    "prefer approx_count_distinct when exactness is not required.",
)
def distinct_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "rollup_quantity",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (SURVEY §2B aggregations).",
)
def rollup_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            sum_money("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "cube_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions (SURVEY §2B aggregations).",
)
def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_money("o_totalprice").alias("total"),
        )
    )


@query(
    "grouping_sets_mix",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc="Explicit GROUPING SETS via the SQL API (same Catalyst plan as the "
    "DataFrame rollup/cube builders).",
)
def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "pivot_status_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot (wide aggregation) — one shuffle, conditional aggregates.",
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(sum_money("l_quantity"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------
@query(
    "window_top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS total_price,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    """,
    doc="rank() per partition + filter = per-group top-k. rank (not "
    "row_number) keeps ties deterministic across engines/partitionings.",
)
def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            money("o_totalprice").alias("total_price"),
            "rnk",
        )
    )


@query(
    "window_ship_gaps",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(DATE_DIFF('day',
                          CAST(LAG(l_shipdate) OVER w AS DATE),
                          CAST(l_shipdate AS DATE)) AS INTEGER) AS gap_days
    FROM lineitem
    WHERE l_suppkey < 10
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
    """,
    doc="lag() over a total order (tie-broken by the table key) → "
    "deterministic gaps; demonstrates ordered analytic windows.",
)
def window_ship_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") < 10)
        .withColumn(
            "gap_days",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.lag("l_shipdate").over(w).cast("date"),
            ),
        )
        .select("l_suppkey", "l_orderkey", "l_linenumber", "gap_days")
    )


@query(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    WHERE o_custkey < 100
    """,
    doc="Running sum with an explicit ROWS frame; exact decimal keeps the "
    "prefix sums identical across engines.",
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias(
                "running_total"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------
@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS total_price,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (per-partition heap "
    "+ driver merge), no full sort — the right plan at any scale. Tie-broken "
    "by key for determinism.",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "o_custkey",
            money("o_totalprice").alias("total_price"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@query(
    "set_ops_nation_presence",
    oracle="""
    SELECT 'both' AS side, nk FROM (
      SELECT DISTINCT c_nationkey AS nk FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS nk FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS side, nk FROM (
      SELECT DISTINCT c_nationkey AS nk FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey AS nk FROM supplier
    )
    UNION ALL
    SELECT 'supplier_only' AS side, nk FROM (
      SELECT DISTINCT s_nationkey AS nk FROM supplier
      EXCEPT
      SELECT DISTINCT c_nationkey AS nk FROM customer
    )
    """,
    doc="UNION ALL / INTERSECT / EXCEPT in one result (SURVEY §2B set ops).",
)
def set_ops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
    )
    tag = lambda df, t: df.select(F.lit(t).alias("side"), "nk")  # noqa: E731
    return (
        tag(cust.intersect(supp), "both")
        .unionAll(tag(cust.exceptAll(supp).distinct(), "customer_only"))
        .unionAll(tag(supp.exceptAll(cust).distinct(), "supplier_only"))
    )


# ---------------------------------------------------------------------------
# Scalar function library (string / math)
# ---------------------------------------------------------------------------
@query(
    "scalar_string_math",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           SUBSTR(p_type, 1, 4) AS type_prefix,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           p_brand || '/' || p_type AS brand_type,
           REPLACE(p_name, 'a', '@') AS name_sub,
           CAST(p_size % 5 AS INTEGER) AS size_mod,
           CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_bucket,
           CAST(ABS(p_size - 25) AS INTEGER) AS size_dev
    FROM part
    WHERE p_partkey < 200
    """,
    doc="Scalar string/math function core (SURVEY §2B scalar functions).",
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("name_sub"),
        (F.col("p_size") % 5).cast("int").alias("size_mod"),
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("price_bucket"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dev"),
    )


@query(
    "scalar_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
           CAST(DAY(o_orderdate) AS INTEGER) AS order_day,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    WHERE o_orderkey < 500
    """,
    doc="Date/time scalar functions over the timestamp column.",
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.date_add(d, 30).alias("due_date"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
    )


# ---------------------------------------------------------------------------
# CTEs / subqueries
# ---------------------------------------------------------------------------
@query(
    "cte_above_avg_orders",
    oracle="""
    WITH pavg AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, COUNT(*) AS n_above
    FROM orders o
    JOIN pavg p ON o.o_orderpriority = p.o_orderpriority
    WHERE o.o_totalprice > p.avg_price
    GROUP BY o.o_orderpriority
    """,
    doc="CTE + join back against a per-group aggregate (decorrelated 'above "
    "average' pattern — SURVEY §2B CTEs/subqueries).",
)
def cte_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pavg = orders.groupBy("o_orderpriority").agg(
        avg_exact("o_totalprice").alias("avg_price")
    )
    return (
        orders.join(F.broadcast(pavg), "o_orderpriority")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


@query(
    "subquery_in_having",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_heavy
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    )
    GROUP BY c_nationkey
    """,
    doc="IN-subquery with HAVING → semi join against an aggregate.",
)
def subquery_in_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    heavy = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 15)
        .select("o_custkey")
    )
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.join(heavy, customer.c_custkey == heavy.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_heavy"))
    )


# ---------------------------------------------------------------------------
# Ordered-set aggregates: exact interpolated percentiles
# ---------------------------------------------------------------------------
@query(
    "percentile_order_price",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           quantile_cont(o_totalprice, 0.99) AS p99_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (PERCENTILE_CONT) per priority. "
    "Lerp between order statistics is bit-identical across engines. At "
    "scale exact percentiles need a per-group sort — groups here are few "
    "and Spark sorts within partial aggregation buffers; for high-"
    "cardinality percentile jobs switch to approx_percentile (t-digest) "
    "and drop the oracle to rows-only.",
)
def percentile_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_pct_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                 AS p50_price,
               percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice)
                 AS p90_price,
               percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice)
                 AS p99_price
        FROM _pct_orders
        GROUP BY o_orderpriority
        """
    )


@query(
    "window_ntile_navigation",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile,
           CAST(LEAD(o_totalprice) OVER w AS DOUBLE) AS next_lower_price,
           CAST(FIRST_VALUE(o_orderkey) OVER w AS BIGINT) AS top_order_key
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Navigation/distribution window functions (NTILE, LEAD, FIRST_VALUE) "
    "over one total-ordered window (price desc, key tie-break → "
    "deterministic). One shuffle on the partition key; all three functions "
    "share a single sort.",
)
def window_ntile_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).alias("price_quartile"),
            F.lead("o_totalprice").over(w).cast("double")
            .alias("next_lower_price"),
            F.first("o_orderkey").over(w).cast("bigint").alias("top_order_key"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                 + EXTRACT(MONTH FROM o_orderdate)) AS first_m
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(f.first_m AS BIGINT) AS cohort_month,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) * 12
                + EXTRACT(MONTH FROM o.o_orderdate) - f.first_m
                AS BIGINT) AS months_since_first,
           COUNT(DISTINCT o.o_custkey) AS n_active
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
    doc="Cohort retention: customers bucketed by first-order month, activity "
    "counted per (cohort, months-since-first). Month arithmetic is explicit "
    "integer form (y*12+m) so both engines agree exactly — months_between/"
    "date_diff('month') have engine-specific day-of-month semantics. Both "
    "aggregations key on o_custkey / (cohort, offset); the firsts table is "
    "customer-sized and the join key matches the first groupBy, so the "
    "partitioning is reused.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    om = orders.select("o_custkey", m.alias("om"))
    firsts = om.groupBy("o_custkey").agg(F.min("om").alias("first_m"))
    return (
        om.join(firsts, "o_custkey")
        .groupBy(
            F.col("first_m").alias("cohort_month"),
            (F.col("om") - F.col("first_m")).alias("months_since_first"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Lateral view / explode (UDTF-shaped: one row in, many rows out)
# ---------------------------------------------------------------------------
@query(
    "explode_word_frequencies",
    oracle="""
    SELECT word, COUNT(*) AS n_occurrences
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n_occurrences DESC, word
    LIMIT 50
    """,
    doc="Lateral explode of split text into words, top-50 by frequency "
    "(SURVEY §2B scalar/table functions; the reference admits any DuckDB "
    "unnest). Generate→partial-agg→final-agg: the explode multiplies rows "
    "inside the scan stage, the word count combines map-side before the "
    "single shuffle, and top-50 is TakeOrderedAndProject (no global sort). "
    "Ties are impossible in the keyspace (word is the group key), so the "
    "(count DESC, word ASC) order makes the kept set deterministic.",
)
def explode_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("word"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# String aggregation (LISTAGG / STRING_AGG shape)
# ---------------------------------------------------------------------------
@query(
    "string_agg_nations_per_region",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nation_list,
           COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Per-region sorted comma-joined nation names (STRING_AGG / LISTAGG "
    "shape, SURVEY §2B aggregations). collect_list is order-nondeterministic "
    "under shuffle, so the list is array_sort()ed before joining — the only "
    "way a concatenation aggregate is reproducible on a cluster. Both sides "
    "are broadcast-sized dims; the groupBy is on 5 keys.",
)
def string_agg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nation_list"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (FILTER clause / CASE-guarded aggregates)
# ---------------------------------------------------------------------------
@query(
    "conditional_agg_order_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                         FILTER (WHERE o_orderstatus = 'F'), 0)
                AS DOUBLE) AS fulfilled_revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Conditional aggregates (SQL FILTER clause / CASE-guarded SUM) in one "
    "pass over orders — the idiomatic replacement for N filtered self-joins. "
    "One scan, one shuffle on the 5-value priority key, map-side combine for "
    "every branch. Money branch is exact-decimal (functions/deterministic).",
)
def conditional_agg_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    is_open = F.col("o_orderstatus") == "O"
    is_fulfilled = F.col("o_orderstatus") == "F"
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(is_open, 1)).alias("n_open"),
        F.count(F.when(is_fulfilled, 1)).alias("n_fulfilled"),
        F.coalesce(
            F.sum(F.when(is_fulfilled, dec("o_totalprice"))), F.lit(0)
        )
        .cast("double")
        .alias("fulfilled_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Window with RANGE frame (value-based moving aggregate)
# ---------------------------------------------------------------------------
@query(
    "window_range_moving_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS day_no,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                  PARTITION BY o_custkey
                  ORDER BY date_diff('day', DATE '1992-01-01',
                                     CAST(o_orderdate AS DATE))
                  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rev_30d
    FROM orders
    """,
    doc="30-day moving revenue per customer via a RANGE window frame — "
    "value-based, unlike the ROWS frames in window_running_revenue. RANGE "
    "includes all peer rows of the current day regardless of intra-day order, "
    "so the frame (and the exact-decimal sum) is deterministic even with "
    "same-day orders. One shuffle on o_custkey; the in-partition sort is "
    "day_no. The date is pre-folded to an integer day number so both engines "
    "order by the identical key type.",
)
def window_range_moving_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    w = W.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-29, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day_no.alias("day_no"),
        F.col("o_totalprice"),
    ).select(
        "o_custkey",
        "o_orderkey",
        "day_no",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("rev_30d"),
    )


# ---------------------------------------------------------------------------
# Correlated scalar subqueries (Catalyst decorrelation)
# ---------------------------------------------------------------------------
_SCALAR_SUBQUERY_SQL = """
    SELECT n.n_name,
           (SELECT COUNT(*) FROM customer c
             WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
           (SELECT CAST(COALESCE(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))), 0)
                        AS DOUBLE)
              FROM supplier s
             WHERE s.s_nationkey = n.n_nationkey) AS supplier_acctbal
    FROM nation n
"""


@query(
    "scalar_subquery_nation_stats",
    oracle=_SCALAR_SUBQUERY_SQL,
    doc="Two correlated scalar subqueries per nation row (SURVEY §2B "
    "CTEs/subqueries — 'correlated subqueries handled by Catalyst "
    "decorrelation'). The same SQL text runs on both engines; Catalyst "
    "rewrites each subquery into an aggregate + left outer join, so the "
    "plan is two shuffled aggs on the correlation key joined to a "
    "broadcast-sized nation — no per-row re-execution anywhere.",
)
def scalar_subquery_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("nation", "customer", "supplier"))
    return spark.sql(_SCALAR_SUBQUERY_SQL)


@query(
    "percentile_approx_order_price",
    oracle=None,
    doc="Mergeable approximate percentiles (Greenwald-Khanna sketch via "
    "approx_percentile, accuracy 1/10000) — the 100 TB companion to "
    "percentile_order_price: sketches combine associatively map-side, so "
    "the shuffle carries one bounded sketch per group instead of sorting "
    "every row, and the same job scales to millions of group keys. No "
    "oracle: sketch estimates are implementation-specific; the test bounds "
    "them against the exact interpolated percentiles.",
)
def percentile_approx_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pcts = F.expr(
        "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
    )
    return orders.groupBy("o_orderpriority").agg(
        pcts[0].alias("p50_price"),
        pcts[1].alias("p90_price"),
        pcts[2].alias("p99_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "scalar_regex_conditional",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           CASE WHEN p_size < 10 THEN 'S'
                WHEN p_size < 30 THEN 'M'
                ELSE 'L' END AS size_class,
           p_name LIKE '%bolt%' AS is_bolt,
           p_type IN ('ECONOMY', 'SMALL') AS is_cheap_tier,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_key
    FROM part
    WHERE p_partkey < 300
    """,
    doc="Regex extraction/replacement, CASE branches, LIKE, IN-list, and "
    "padding (SURVEY §2B scalar functions). Patterns stay in the "
    "RE2-compatible subset both engines execute identically; DuckDB needs "
    "the explicit 'g' flag to match Spark's replace-all default. All "
    "JVM-side codegen — no UDFs.",
)
def scalar_regex_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", r"[aeiou]", "*").alias("devoweled"),
        F.when(F.col("p_size") < 10, "S")
        .when(F.col("p_size") < 30, "M")
        .otherwise("L")
        .alias("size_class"),
        F.col("p_name").like("%bolt%").alias("is_bolt"),
        F.col("p_type").isin("ECONOMY", "SMALL").alias("is_cheap_tier"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_key"),
    )


@query(
    "null_semantics",
    oracle="""
    SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_label,
           NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F'
             AS nullsafe_is_f,
           COUNT(*) AS n_rows,
           COUNT(NULLIF(o_orderstatus, 'O')) AS n_nonnull,
           COUNT(*) - COUNT(NULLIF(o_orderstatus, 'O')) AS n_null
    FROM orders
    GROUP BY 1, 2
    """,
    doc="NULL semantics end-to-end: NULLIF synthesis, COALESCE defaulting, "
    "null-safe equality (Spark <=> / SQL IS NOT DISTINCT FROM), NULL as a "
    "grouping key (both engines group NULLs together), and COUNT(col) vs "
    "COUNT(*) under NULLs — the classic cross-engine divergence points, "
    "pinned by the oracle.",
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    nulled = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.groupBy(
        F.coalesce(nulled, F.lit("open")).alias("status_label"),
        nulled.eqNullSafe(F.lit("F")).alias("nullsafe_is_f"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(nulled).alias("n_nonnull"),
        (F.count(F.lit(1)) - F.count(nulled)).alias("n_null"),
    )


_CALENDAR_SPINE_SQL = """
    WITH RECURSIVE bounds AS (
      SELECT CAST(MIN(EXTRACT(YEAR FROM o_orderdate) * 12
                   + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS mn,
             CAST(MAX(EXTRACT(YEAR FROM o_orderdate) * 12
                   + EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS mx
      FROM orders
    ),
    years(y, ylast) AS (
      SELECT CAST(FLOOR(mn / 12.0) AS BIGINT), CAST(FLOOR(mx / 12.0) AS BIGINT)
      FROM bounds
      UNION ALL
      SELECT y + 1, ylast FROM years WHERE y < ylast
    ),
    offsets(o) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11)),
    months AS (
      SELECT y * 12 + CAST(o AS BIGINT) AS month_index
      FROM years CROSS JOIN offsets
    ),
    rev AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT m.month_index,
           CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(rev.revenue, 0) AS DOUBLE) AS revenue
    FROM months m
    JOIN bounds b ON m.month_index BETWEEN b.mn AND b.mx
    LEFT JOIN rev ON rev.m = m.month_index
"""


@query(
    "recursive_calendar_spine",
    oracle=_CALENDAR_SPINE_SQL,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): a gap-free month spine "
    "generated from the data's own date bounds, left-joined to monthly "
    "revenue so empty months surface as zeros — the calendar-spine pattern "
    "gap-sensitive reporting needs. The identical SQL text runs on both "
    "engines. Recursion is DEPTH-BOUNDED by design: Spark executes one "
    "synchronous mini-job per recursion step (~60 ms fixed cost), so the "
    "recursion walks YEARS (depth ≈ span/12) carrying the stop bound as a "
    "carried column — recursing per month re-aggregated the bounds every "
    "step and cost 16 s at sf0.1 vs ~1 s for this shape — and each year "
    "row expands to its 12 months with a constant VALUES cross join. The "
    "heavy side stays the partial-aggregated monthly rollup; the spine "
    "broadcasts into it.",
)
def recursive_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(_CALENDAR_SPINE_SQL)


_LATERAL_TOPN_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@query(
    "lateral_top_orders",
    oracle=_LATERAL_TOPN_SQL,
    doc="LATERAL correlated subquery (Spark 4 / DuckDB common surface, "
    "identical SQL text both engines): each customer's top-2 orders by "
    "price. Catalyst decorrelates the LATERAL into a ranked window join — "
    "the same physical shape as window_top_orders_per_customer — so the "
    "per-customer LIMIT never executes row-at-a-time. The gate admits "
    "LATERAL as part of the delegated SELECT grammar; this pins that the "
    "admitted surface actually runs and matches.",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_LATERAL_TOPN_SQL)


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY ALL
"""


@query(
    "group_by_all_status_priority",
    oracle=_GROUP_BY_ALL_SQL,
    doc="GROUP BY ALL (Spark ≥3.4 / DuckDB common surface, identical SQL "
    "text both engines): the resolver derives the grouping keys from the "
    "non-aggregate select items. Plans exactly like the explicit GROUP BY "
    "— partial-aggregated single shuffle — so the convenience syntax "
    "carries no plan cost.",
)
def group_by_all_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(_GROUP_BY_ALL_SQL)


_UNPIVOT_SQL = """
    SELECT c_custkey, metric, val
    FROM (SELECT c_custkey,
                 CAST(c_acctbal AS DOUBLE) AS acctbal,
                 CAST(length(c_name) AS DOUBLE) AS name_len,
                 CAST(c_nationkey AS DOUBLE) AS nationkey
          FROM customer)
    UNPIVOT (val FOR metric IN (acctbal, name_len, nationkey))
"""


@query(
    "unpivot_customer_metrics",
    oracle=_UNPIVOT_SQL,
    doc="UNPIVOT / melt (Spark ≥3.4 SQL, identical text on DuckDB): wide "
    "per-customer metrics to long (customer, metric, value) triples — the "
    "wide→long reshape feature stores and plotting layers need. Pure "
    "narrow map work (Expand node): each input row emits k metric rows "
    "with NO shuffle, so at 100 TB it runs at scan width like explode.",
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("customer",))
    return spark.sql(_UNPIVOT_SQL)


_WINDOW_DIST_SQL = """
    SELECT o_orderpriority,
           o_orderkey,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER wf AS cheapest_key,
           nth_value(o_orderkey, 2) OVER wf AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey),
           wf AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@query(
    "window_distribution_functions",
    oracle=_WINDOW_DIST_SQL,
    doc="Distribution-family window functions (identical SQL text both "
    "engines): percent_rank / cume_dist over the default running frame "
    "(Spark REQUIRES it for rank-family functions) and first_value / "
    "nth_value over an explicit unbounded frame (nth_value is "
    "frame-sensitive: the running frame would return NULL before row 2) — "
    "two named WINDOW clauses sharing one partition+sort, so the plan "
    "still sorts once. Ranks divide exact integer row numbers, so the "
    "rounded doubles are engine-identical. One shuffle on the partition "
    "key, like every window operator.",
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(_WINDOW_DIST_SQL)


_RFM_SQL = """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
      FROM orders GROUP BY o_custkey
    ),
    tiled AS (
      SELECT o_custkey, n_orders, spend_cents,
             CAST(NTILE(4) OVER (ORDER BY last_order, o_custkey) AS BIGINT)
               AS r_tile,
             CAST(NTILE(4) OVER (ORDER BY n_orders, o_custkey) AS BIGINT)
               AS f_tile,
             CAST(NTILE(4) OVER (ORDER BY spend_cents, o_custkey) AS BIGINT)
               AS m_tile
      FROM per_cust
    )
    SELECT r_tile, f_tile, m_tile,
           COUNT(*) AS n_customers,
           CAST(SUM(spend_cents) AS BIGINT) AS segment_spend_cents
    FROM tiled GROUP BY r_tile, f_tile, m_tile
"""


@query(
    "rfm_customer_segments",
    oracle=_RFM_SQL,
    doc="RFM segmentation: per-customer recency/frequency/monetary metrics, "
    "each quartiled over a custkey-tie-broken order (ties are the classic "
    "nondeterminism trap — the explicit tie-break makes tile assignment "
    "engine- and partitioning-independent), rolled up to the 4×4×4 segment "
    "grid. Money quantizes to cents before summing so segment spend is "
    "exact. The oracle keeps the natural NTILE formulation; the Spark plan "
    "computes the SAME tiles distributed (round 4 shipped three global "
    "NTILE windows — single-partition sorts of O(customers) rows, a "
    "scale-killer at 100 TB): the three metrics are stacked into one "
    "(metric, value) frame, every row gets a coarse ORDER-PRESERVING block "
    "key, and its exact global rank is block offset (a tiny subtotal "
    "table, window partitioned by metric) plus the row_number within "
    "(metric, block) — the pipeline_global_shuffle two-phase pattern. "
    "Tiles then come from the rank via the exact SQL NTILE rule (the "
    "first n%4 buckets take one extra row; floor(rank*4/n) is NOT "
    "NTILE), so the output stays hash-identical to the oracle. No window "
    "in the plan touches more than one (metric, block) group of the "
    "per-customer frame.",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("spend_cents"),
    )
    # One stacked frame instead of three windowed passes: metric in
    # {r, f, m}, val monotone AND injective in the oracle's ORDER BY key
    # for that metric (epoch-micros is a bijection on the NTZ timestamp,
    # so ties and order both carry over exactly).
    stacked = per_cust.selectExpr(
        "o_custkey",
        "spend_cents",
        "stack(3, 'r', unix_micros(to_utc_timestamp(last_order, 'UTC')),"
        "         'f', cast(n_orders as bigint),"
        "         'm', spend_cents) as (metric, val)",
    )
    # Order-preserving coarse blocks bound every window group: ~monthly
    # date blocks for recency, the (naturally tiny) order count for
    # frequency — capped so the cap collapses the tail into ONE ordered
    # block rather than unbounded cardinality — and ~$1000 buckets for
    # spend. least(x, cap) and x div k are both monotone, so cross-block
    # order equals value order and within-block sorting finishes the rank.
    # At 100 TB the block width is the only tuning knob (or swap for
    # sampled range boundaries, which is exactly repartitionByRange).
    blk = (
        F.when(F.col("metric") == "r", F.expr("val div 2764800000000"))
        .when(F.col("metric") == "f", F.least("val", F.lit(4096)))
        .otherwise(F.least(F.expr("val div 100000"), F.lit(9999)))
        .alias("blk")
    )
    stacked = stacked.select("*", blk)
    counts = stacked.groupBy("metric", "blk").agg(
        F.count(F.lit(1)).alias("blk_n")
    )
    # subtotal table: O(metrics x blocks) rows; its window partitions by
    # metric, so even this tiny frame never runs single-partition
    w_blocks = (
        W.partitionBy("metric").orderBy("blk").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "metric",
        "blk",
        F.coalesce(F.sum("blk_n").over(w_blocks), F.lit(0)).alias("blk_offset"),
    )
    totals = counts.groupBy("metric").agg(F.sum("blk_n").alias("n"))
    w_rows = W.partitionBy("metric", "blk").orderBy("val", "o_custkey")
    ranked = (
        stacked.join(F.broadcast(offsets), ["metric", "blk"])
        .join(F.broadcast(totals), "metric")
        .withColumn(
            "rnk", F.col("blk_offset") + F.row_number().over(w_rows) - 1
        )
    )
    # exact NTILE(4) from the 0-based global rank: with q = n div 4 and
    # rem = n % 4, the first rem buckets hold q+1 rows, the rest q
    tile = (
        F.expr(
            "case when rnk < (n % 4) * ((n div 4) + 1) "
            "     then rnk div ((n div 4) + 1) "
            "     else (n % 4) + (rnk - (n % 4) * ((n div 4) + 1)) div (n div 4) "
            "end + 1"
        )
        .cast("bigint")
        .alias("tile")
    )
    tiles = (
        ranked.select("o_custkey", "metric", "spend_cents", tile)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("metric") == "r", F.col("tile"))).alias("r_tile"),
            F.max(F.when(F.col("metric") == "f", F.col("tile"))).alias("f_tile"),
            F.max(F.when(F.col("metric") == "m", F.col("tile"))).alias("m_tile"),
            F.max("spend_cents").alias("spend_cents"),
        )
    )
    return tiles.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend_cents").cast("bigint").alias("segment_spend_cents"),
    )


#: basket-size guard for pair expansion: an order with B distinct parts
#: emits B(B-1)/2 pairs, so one pathological mega-order would dominate the
#: pair stage quadratically. Orders above the cap are excluded ON BOTH
#: ENGINES (mirrored in the oracle) — same principle as LSH_MAX_BUCKET.
MAX_BASKET = 50
BASKET_TOP_PAIRS = 20


@query(
    "market_basket_part_pairs",
    oracle=f"""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sized AS (
      SELECT l_orderkey FROM lines GROUP BY l_orderkey
      HAVING COUNT(*) BETWEEN 2 AND {MAX_BASKET}
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM lines a
      JOIN lines b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      JOIN sized s ON a.l_orderkey = s.l_orderkey
    )
    SELECT part_a, part_b, COUNT(*) AS n_orders
    FROM pairs GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {BASKET_TOP_PAIRS}
    """,
    doc="Market-basket co-occurrence: top part pairs by the number of "
    "orders containing both — the association-mining support count. The "
    "self-join keys on l_orderkey so pairs form only WITHIN an order "
    "(never cross-order quadratic), and baskets above "
    f"{MAX_BASKET} distinct parts are excluded on both engines — the "
    "LSH_MAX_BUCKET principle: one pathological mega-basket would emit "
    "B²/2 pairs into a single reducer at 100 TB. Exact integer support "
    "counts, heap-merge top-k.",
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array formulation, NOT a self-join: one groupBy collects each
    # basket's distinct parts (collect_set absorbs the DISTINCT), the
    # capped+sorted array pair-expands map-side with nested transforms,
    # and only (pair) rows shuffle for the support count. The self-join
    # shape shuffled the (order, part) projection twice and sorted both
    # sides; this shape is 2 shuffles total and benched ~2× faster.
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .filter(
            (F.size("parts") >= 2) & (F.size("parts") <= MAX_BASKET)
        )
    )
    # AQE sizes the basket exchange from its PRE-explosion bytes, so at
    # test SF the quadratic pair expansion ran on 3-4 coalesced
    # partitions (guide §2.5: the estimate cannot see the B²/2 blowup
    # downstream). Spread the narrow post-agg frame before the
    # expansion — repartition_for_compute's scan-width guard makes this
    # a no-op once the basket table is naturally wide. The blowup per
    # basket is bounded by the size filter above: at most
    # MAX_BASKET·(MAX_BASKET−1)/2 = 1,225 pairs. Whether AQE's
    # byte-based sizing is right at real scale is not measured.
    # Measured r18 at test SF (interleaved min): see OPTIMIZATION_r18.md.
    from iceberg_explorer_spark.sources.registry import (
        repartition_for_compute,
    )

    baskets = repartition_for_compute(baskets)
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts) - i - 1),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(BASKET_TOP_PAIRS)
    )


_YOY_SQL = """
    WITH yearly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY order_year
    )
    SELECT order_year, revenue_cents, n_orders,
           LAG(revenue_cents) OVER (ORDER BY order_year) AS prev_cents,
           CASE WHEN LAG(revenue_cents) OVER (ORDER BY order_year) IS NULL
                THEN NULL
                ELSE CAST(revenue_cents
                          - LAG(revenue_cents) OVER (ORDER BY order_year)
                          AS DOUBLE)
                     * 100e0 / LAG(revenue_cents) OVER (ORDER BY order_year)
           END AS yoy_pct
    FROM yearly
"""


@query(
    "orders_yoy_growth",
    oracle=_YOY_SQL,
    doc="Year-over-year revenue growth (identical SQL text both engines) — "
    "the time-intelligence staple: yearly rollup in exact integer cents, "
    "LAG for the prior year, growth as a ratio of exact integers. The lag "
    "window runs over the O(years) frame, so the single-partition window "
    "is free; the only real shuffle is the partial-aggregated yearly "
    "rollup. year() on the naive order timestamp is timezone-free on both "
    "engines.",
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(_YOY_SQL)


# ---------------------------------------------------------------------------
# ABC / Pareto revenue classification (two-phase distributed prefix sum)
# ---------------------------------------------------------------------------
#: coarse revenue block width for the two-phase cumulative sum, in 1e-4
#: currency units ($10k blocks). Monotone in the ORDER BY key, so
#: cross-block order equals value order; within-block sorting finishes the
#: prefix. The only tuning knob at 100 TB (or swap for sampled range
#: boundaries = repartitionByRange).
PARETO_BLOCK_E4 = 10_000 * 10_000


def _abc_class_expr(cum, total):
    """The A/B/C cut on exact 1e-4-unit BIGINT sums, WIDENED to
    DECIMAL(38,0) before the x100/x80/x95 products. A BIGINT cut would
    wrap silently in Spark's non-ANSI mode ~100x below the sums' own
    headroom (at ~9e12 currency units of total revenue, where DuckDB
    errors instead — a correctness divergence, ADVICE r5); the widened
    cut is exact to the BIGINT bound of the sums themselves. The oracle
    mirrors this with HUGEINT. Split out so the overflow bound is
    directly testable at adversarial magnitudes
    (tests/test_properties.py)."""
    cum_w = cum.cast("decimal(38,0)")
    tot_w = total.cast("decimal(38,0)")
    return (
        F.when(cum_w * 100 <= tot_w * 80, "A")
        .when(cum_w * 100 <= tot_w * 95, "B")
        .otherwise("C")
    )


@query(
    "parts_abc_pareto",
    oracle=f"""
    WITH pp AS (
      SELECT l_partkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev_e4
      FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS total FROM pp),
    c AS (
      SELECT rev_e4,
             CAST(SUM(rev_e4) OVER (
                 ORDER BY rev_e4 DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM pp
    )
    SELECT CASE WHEN CAST(cum AS HUGEINT) * 100
                       <= 80 * CAST(t.total AS HUGEINT) THEN 'A'
                WHEN CAST(cum AS HUGEINT) * 100
                       <= 95 * CAST(t.total AS HUGEINT) THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           CAST(SUM(rev_e4) AS BIGINT) * 1.0 / 10000 AS class_revenue,
           CAST(SUM(rev_e4) AS BIGINT) * 1.0 / ANY_VALUE(t.total)
             AS revenue_share
    FROM c, t
    GROUP BY abc_class
    """,
    doc="ABC/Pareto classification: parts ranked by revenue, class A = the "
    "head covering 80% of cumulative revenue, B to 95%, C the tail — the "
    "inventory-policy classic, and at corpus scale the same shape as "
    "'which sources/domains cover 95% of tokens'. The global cumulative "
    "sum NEVER runs as one ORDER BY window (single-partition sort of "
    "O(parts) rows — the RFM lesson): revenue blocks on a monotone "
    f"coarse key (rev div {PARETO_BLOCK_E4}), per-block subtotals give "
    "cross-block offsets on an O(blocks) frame, and the within-block "
    "running sum windows on the block key. Class cuts compare exact "
    "1e-4-unit sums WIDENED first (DECIMAL(38,0) in Spark, HUGEINT in "
    "DuckDB — no float thresholds, and no silent wraparound from the x100: "
    "a BIGINT cut would lose 100x of the sums' own headroom, overflowing "
    "silently in Spark's non-ANSI mode at ~9e12 currency units of total "
    "revenue), so classification is bit-stable up to the BIGINT bound of "
    "the sums themselves (~9e14 currency units); the two output ratios "
    "divide exact integers. (Exact decimal money discipline per "
    "functions/deterministic.py.)",
)
def parts_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    pp = lineitem.groupBy("l_partkey").agg(
        (F.sum(revenue) * 10000).cast("bigint").alias("rev_e4")
    )
    # ascending blk == descending revenue (x div B is monotone, negated)
    pp = pp.withColumn("blk", F.expr(f"-(rev_e4 div {PARETO_BLOCK_E4})"))
    sub = pp.groupBy("blk").agg(F.sum("rev_e4").alias("blk_rev"))
    w_blocks = W.orderBy("blk").rowsBetween(W.unboundedPreceding, -1)
    offsets = sub.select(
        "blk",
        F.coalesce(F.sum("blk_rev").over(w_blocks), F.lit(0)).alias(
            "blk_offset"
        ),
    )
    total = sub.agg(F.sum("blk_rev").alias("total"))
    w_rows = (
        W.partitionBy("blk")
        .orderBy(F.col("rev_e4").desc(), "l_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = (
        pp.join(F.broadcast(offsets), "blk")
        .join(F.broadcast(total))
        .withColumn(
            "cum", F.col("blk_offset") + F.sum("rev_e4").over(w_rows)
        )
    )
    abc = _abc_class_expr(F.col("cum"), F.col("total"))
    return (
        c.withColumn("abc_class", abc)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum("rev_e4") * 1.0 / 10000).alias("class_revenue"),
            (F.sum("rev_e4") * 1.0 / F.first("total")).alias("revenue_share"),
        )
    )


# ---------------------------------------------------------------------------
_SEASONALITY_SQL = """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
             CAST(month(o_orderdate) AS BIGINT) AS order_month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY order_year, order_month
    ),
    with_year AS (
      SELECT order_year, order_month, revenue_cents, n_orders,
             CAST(SUM(revenue_cents) OVER (PARTITION BY order_year)
               AS BIGINT) AS year_cents,
             CAST(COUNT(*) OVER (PARTITION BY order_year) AS BIGINT)
               AS months_in_year
      FROM monthly
    )
    SELECT order_year, order_month, revenue_cents, n_orders,
           CAST(revenue_cents AS DOUBLE) * months_in_year / year_cents
             AS seasonality_index
    FROM with_year
"""


@query(
    "orders_seasonality_index",
    oracle=_SEASONALITY_SQL,
    doc="Monthly seasonality index (identical SQL text both engines): each "
    "month's revenue relative to its year's monthly average — index 1.0 "
    "is an average month, 1.3 a 30%-over peak. The staple behind "
    "capacity planning and the de-seasonalized trend charts every "
    "revenue dashboard carries; the months_in_year multiplier (not a "
    "hardcoded 12) keeps partial first/last years honest. Exact integer "
    "cents into ONE double division; the year window runs over the "
    "O(months) frame partitioned by year, so nothing corpus-sized ever "
    "sorts — the only real shuffle is the partial-aggregated monthly "
    "rollup. year()/month() on the naive timestamp are timezone-free on "
    "both engines.",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(_SEASONALITY_SQL)
