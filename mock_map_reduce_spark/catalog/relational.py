"""Relational catalog — joins, aggregates, windows, set ops, functions.

Covers every SURVEY §2.2 category the reference lacks, each as a named
query with a DuckDB oracle. Determinism rules used throughout:

* Money aggregates go through DECIMAL(18,2/4) casts so sums are exact
  and engine-order-independent, then CAST to DOUBLE for a stable
  wire value (the raw doubles are clean 2-decimal, so the decimal cast
  is lossless in both engines).
* Timestamps leave the engine as formatted strings — no tz/precision
  representation drift between Spark and DuckDB.
* Every LIMIT is paired with a total ORDER BY (unique tie-break).
* Window orderings include a unique key so frames are total orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mock_map_reduce_spark.operators.relational import (
    maybe_broadcast,
    running_agg,
    star_join,
    top_k_per_group,
)
from mock_map_reduce_spark.functions.materialize import materialize
from mock_map_reduce_spark.functions.pairs import ordered_pairs
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.sources import load_table, load_tables


def _dec2(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Filters / projections (P-class; pushdown must reach the parquet scan)
# ---------------------------------------------------------------------------


@query(
    "filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_quantity < 10
""",
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Aggregation (A-class): TPC-H Q1 shape, distinct agg, rollup/cube, having
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4)) * CAST(1 + l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan→filter→partial agg→final agg plan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec2("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
    charge = disc * (F.lit(1.0) + F.col("l_tax")).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 2))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 2))
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order",
        )
    )


@query(
    "distinct_agg",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       true AS within_tolerance
FROM lineitem GROUP BY l_returnflag
""",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the 100 TB answer to COUNT(DISTINCT).

    Exact distinct on a high-cardinality key is a full shuffle of the
    key universe; the sketch is fixed-size per group and merges
    associatively map-side.

    Oracle strategy: the HLL register estimate is engine-specific, so
    the raw sketch value can't hash-match DuckDB. Instead the query
    emits the exact count plus ``within_tolerance`` = |approx - exact|
    <= 5 * rsd * exact, computed Spark-side from both aggregates; the
    oracle asserts the same exact counts and a literal ``true`` — a
    hash-checkable accuracy bound on the sketch (5σ: deterministic
    per dataset, never flaky in practice at rsd=0.02).
    """
    rsd = 0.02
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 5 * rsd * F.col("exact_parts")
            ).alias("within_tolerance"),
        )
    )


@query(
    "rollup_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec2("o_totalprice")).cast("double").alias("total_price"),
        )
    )


@query(
    "cube_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "having_groups",
    oracle="""
SELECT p_brand, COUNT(*) AS n_parts
FROM part GROUP BY p_brand HAVING COUNT(*) > 5
""",
)
def q_having_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .filter(F.col("n_parts") > 5)
    )


# ---------------------------------------------------------------------------
# Joins (absent in reference — SURVEY §2.2): inner/broadcast star, left,
# semi, anti, full outer
# ---------------------------------------------------------------------------


@query(
    "revenue_by_nation",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation).

    At 100 TB the lineitem↔orders join is the only real shuffle;
    customer co-shuffles on the (smaller) orders side and nation is a
    broadcast — no exchange at all for the dimension.
    """
    li, orders, cust, nation = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    revenue = _dec2("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
    joined = star_join(
        li,
        [
            (orders, "orders", F.col("l_orderkey") == F.col("o_orderkey")),
            (cust, "customer", F.col("o_custkey") == F.col("c_custkey")),
            (nation, "nation", F.col("c_nationkey") == F.col("n_nationkey")),
        ],
    )
    return joined.groupBy("n_name").agg(
        F.sum(revenue).cast("double").alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(
    "customer_order_counts",
    oracle="""
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
""",
)
def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = load_tables(spark, sf_dir, "customer", "orders")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = load_tables(spark, sf_dir, "customer", "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F")
    return cust.join(
        f_orders, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no pending order (anti of a filtered build side —
    non-vacuous: every customer has *some* order in this data)."""
    cust, orders = load_tables(spark, sf_dir, "customer", "orders")
    pending = orders.filter(F.col("o_orderstatus") == "P")
    return cust.join(
        pending, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "nation_coverage_fullouter",
    oracle="""
SELECT COALESCE(c.k, s.k) AS nationkey, c.n_customers, s.n_suppliers
FROM (SELECT c_nationkey AS k, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
ON c.k = s.k
""",
)
def q_nation_coverage_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp = load_tables(spark, sf_dir, "customer", "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("ck")).agg(F.count("*").alias("n_customers"))
    s = supp.groupBy(F.col("s_nationkey").alias("sk")).agg(F.count("*").alias("n_suppliers"))
    return c.join(s, F.col("ck") == F.col("sk"), "full_outer").select(
        F.coalesce("ck", "sk").alias("nationkey"), "n_customers", "n_suppliers"
    )


@query(
    "broadcast_dim_join",
    oracle="""
SELECT r_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of both dims — zero shuffle until the final agg."""
    cust, nation, region = load_tables(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(maybe_broadcast(nation, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(maybe_broadcast(region, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Window functions (ranking / analytic / frames)
# ---------------------------------------------------------------------------


@query(
    "window_row_number",
    oracle="""
SELECT o_orderkey, o_custkey,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
FROM orders
""",
)
def q_window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        # long, matching the BIGINT DuckDB's ROW_NUMBER produces, in
        # case the driver's schema compare is type-aware
        F.row_number().over(w).cast("long").alias("rn"),
    )


@query(
    "window_running_sum",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
""",
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders")
    out = running_agg(
        df,
        ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        _dec2("o_totalprice"),
        "running_spend_dec",
    )
    return out.select(
        "o_orderkey", "o_custkey", F.col("running_spend_dec").cast("double").alias("running_spend")
    )


@query(
    "window_lag_lead",
    oracle="""
SELECT o_orderkey, o_custkey,
       date_diff('day',
                 lag(o_orderdate)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS days_since_prev,
       lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey
FROM orders
""",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    df = load_table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long").alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "topk_orders_per_priority",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def q_topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders")
    out = top_k_per_group(
        df.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


@query(
    "orders_above_customer_avg",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
) WHERE o_totalprice > cust_avg
""",
)
def q_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape decorrelated into a window (no re-scan)."""
    w = Window.partitionBy("o_custkey")
    df = load_table(spark, sf_dir, "orders")
    return (
        df.withColumn(
            "cust_avg",
            F.sum(_dec2("o_totalprice")).over(w).cast("double") / F.count("*").over(w),
        )
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "set_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.intersect(f)


@query(
    "set_except",
    oracle="""
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.subtract(f)  # EXCEPT (set semantics); exceptAll would be bag-EXCEPT


@query(
    "union_tagged",
    oracle="""
SELECT 'high' AS bucket, o_orderkey FROM orders WHERE o_totalprice >= 400000
UNION ALL
SELECT 'low' AS bucket, o_orderkey FROM orders WHERE o_totalprice < 2000
""",
)
def q_union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 analog: explicit unionAll of two branches (SURVEY §2.1 U1)."""
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") >= 400000).select(
        F.lit("high").alias("bucket"), "o_orderkey"
    )
    lo = orders.filter(F.col("o_totalprice") < 2000).select(
        F.lit("low").alias("bucket"), "o_orderkey"
    )
    return hi.unionAll(lo)


# ---------------------------------------------------------------------------
# Scalar function surface: string / date / math / case / pivot
# ---------------------------------------------------------------------------


@query(
    "string_funcs",
    oracle="""
SELECT c_custkey,
       lower(c_mktsegment) AS seg_lower,
       length(c_name) AS name_len,
       substring(c_name, 1, 8) AS name_prefix,
       concat(c_mktsegment, '-', CAST(c_custkey AS VARCHAR)) AS seg_key,
       CAST(regexp_extract(c_name, '[0-9]+') AS BIGINT) AS name_num
FROM customer
""",
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_mktsegment"), F.lit("-"), F.col("c_custkey").cast("string")).alias("seg_key"),
        F.regexp_extract("c_name", "[0-9]+", 0).cast("long").alias("name_num"),
    )


@query(
    "date_funcs",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
       EXTRACT(year FROM o_orderdate) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_revenue
FROM orders
GROUP BY 1, 2
""",
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders")
    return (
        df.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec2("o_totalprice")).cast("double").alias("month_revenue"),
        )
    )


@query(
    "math_funcs",
    oracle="""
SELECT p_partkey,
       abs(p_retailprice - 950) AS price_dev,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(ceiling(p_retailprice) AS BIGINT) AS price_ceil,
       p_size % 5 AS size_mod,
       CAST(p_size AS DOUBLE) * p_size AS size_sq,
       round(sqrt(p_size), 6) AS size_sqrt,
       round(ln(p_size), 6) AS size_ln
FROM part
""",
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 950).alias("price_dev"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        (F.col("p_size") % 5).alias("size_mod"),
        (F.col("p_size").cast("double") * F.col("p_size")).alias("size_sq"),
        F.round(F.sqrt("p_size"), 6).alias("size_sqrt"),
        F.round(F.log(F.col("p_size").cast("double")), 6).alias("size_ln"),
    )


@query(
    "case_when_bucket",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS bucket,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
""",
)
def q_case_when_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 200000, "mid")
        .otherwise("high")
    )
    return df.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n_orders"))


@query(
    "pivot_status",
    oracle="""
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
FROM orders GROUP BY o_orderpriority
""",
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders")
    out = df.groupBy("o_orderpriority").pivot("o_orderstatus", ["O", "F", "P"]).count()
    return out.na.fill(0, ["O", "F", "P"])


@query(
    "graph_triangle_count",
    oracle="""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
pairs AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
wedges AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM pairs e1 JOIN pairs e2 ON e2.p1 = e1.p2
),
tri AS (
  SELECT w.a, w.b, w.c FROM wedges w
  JOIN pairs e3 ON e3.p1 = w.a AND e3.p2 = w.c
)
SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM wedges) AS n_wedges,
       (SELECT COUNT(*) FROM tri) AS n_triangles
""",
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts sharing an
    order) — the classic multi-way self-join benchmark. Edges are
    id-ordered (p1 < p2) so each triangle counts exactly once: the
    wedge join extends every edge through its endpoint, and the
    closing join keeps wedges whose far endpoints are themselves an
    edge. Demo graph: the deterministic l_partkey % 4 == 0 subgraph
    (bounds the wedge blow-up inside a 1g bare-session driver at any
    test SF; drop the filter on a real cluster).

    Scale: edge building is order-local (per-order pair explode, then
    DISTINCT); the wedge join shuffles edges on the shared vertex —
    the step that blows up on high-degree vertices, bounded in
    production by degeneracy ordering (direct edges from the
    lower-degree endpoint, the standard skew guard for 100 TB graphs;
    the id-ordering here is its deterministic stand-in). The closing
    join is a plain equi-join on (a, c).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 4 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    wedges = e1.join(e2, F.col("e2.p1") == F.col("e1.p2")).select(
        F.col("e1.p1").alias("a"), F.col("e1.p2").alias("b"), F.col("e2.p2").alias("c")
    )
    tri = wedges.join(
        e3, (F.col("e3.p1") == F.col("a")) & (F.col("e3.p2") == F.col("c"))
    )
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    n_wedges = wedges.agg(F.count("*").alias("n_wedges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(n_tri)
        .select("n_edges", "n_wedges", "n_triangles")
    )


# PageRank fixed-point: ranks live in integer UNITS of 1e-14 (bigint).
# Every per-step quantity is a floor DIVISION of integers, and every
# accumulation is an integer SUM — bit-exact, associative, identical
# in any engine / partitioning / retry order. (The previous
# round-to-DECIMAL(28,14) formulation rounded DOUBLES at each step,
# and round-half behavior on a double differs between Spark's
# shortest-string HALF_UP and DuckDB's binary-value rounding whenever
# a quotient lands near a half at digit 15 — observed as a 1e-14 skew
# at sf0.01 under the round-8 15-sig-digit local gate.)
_PR_ONE = 10**14  # 1.0 in units
_PR_TELEPORT = 15 * 10**12  # 0.15 in units


@query(
    "graph_pagerank",
    oracle=f"""
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
pairs AS (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT p1 AS src, p2 AS dst FROM pairs UNION ALL SELECT p2, p1 FROM pairs),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
r0 AS (SELECT src AS node, {_PR_ONE} // (SELECT n_nodes FROM n) AS r FROM deg),
c1 AS (
  SELECT e.dst AS node, SUM(r0.r // deg.d) AS s
  FROM edges e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src GROUP BY 1
),
r1 AS (SELECT node,
       {_PR_TELEPORT} // (SELECT n_nodes FROM n) + (85 * s) // 100 AS r FROM c1),
c2 AS (
  SELECT e.dst AS node, SUM(r1.r // deg.d) AS s
  FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src GROUP BY 1
),
r2 AS (SELECT node,
       {_PR_TELEPORT} // (SELECT n_nodes FROM n) + (85 * s) // 100 AS r FROM c2)
SELECT node, CAST(r AS DOUBLE) / {_PR_ONE} AS rank
FROM r2 ORDER BY r DESC, node LIMIT 20
""",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 power iterations, damping 0.85) over the symmetrized
    co-purchase graph — the iterative-NUMERIC companion to the
    iterative-set dedup_clusters: ranks are fixed-point bigints (units
    of 1e-14, see _PR_ONE note above), so every step is integer floor
    division + integer sum and partitioning/retries/engines cannot
    reorder a float accumulation — the ITERATION ITSELF is
    oracle-checked bit-exactly.
    Same l_partkey % 4 == 0 demo subgraph as graph_triangle_count.

    Scale: per iteration one join of edges to the rank vector on src
    (both co-partitioned on the vertex key after the first shuffle)
    and one groupBy(dst) with map-side combine; ranks/degrees are
    O(nodes). The classic Pregel step expressed relationally.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 4 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )
    edges = pairs.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionAll(
        pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    # Degree-annotated edge list, hash-partitioned on src and pinned
    # ONCE: every iteration joins it against the rank vector on src,
    # so the edge side never re-shuffles and the (lineitem-scan →
    # pair-distinct → union) lineage never re-executes per iteration.
    # At 100 TB this is the persisted partitioned edge structure every
    # Pregel-style engine keeps across supersteps; the pin is
    # materialize() (persist or reliable checkpoint — recoverable).
    edges_deg = materialize(
        edges.join(deg, "src")
        .select("src", "dst", "d")
        .repartition("src"),
        eager=False,  # the n count below is the forcing action
    )
    # Round-10: node count and the initial rank vector both derive
    # from the PIN. Previously n_nodes was an unpinned aggregate over
    # the scan→self-join→distinct lineage, crossJoin-broadcast into
    # the init and every iteration — so the full pre-pin lineage
    # re-executed three times per query (once per broadcast build)
    # even though edges_deg was materialized. n is a bounded driver
    # scalar (the kmeans/BPE convention); the division results are the
    # same integers with n inlined as a literal.
    n = edges_deg.select("src").distinct().count()
    ranks = (
        edges_deg.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.expr(f"{_PR_ONE}L div {n}L").alias("r"))
    )
    for _ in range(2):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("r div d").alias("contrib"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("contrib").alias("s"))
        ranks = sums.select(
            "node",
            F.expr(f"{_PR_TELEPORT}L div {n}L + (85 * s) div 100").alias("r"),
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(20)
        .select(
            "node", (F.col("r").cast("double") / F.lit(float(_PR_ONE))).alias("rank")
        )
    )


@query(
    "basket_brand_lift",
    oracle="""
WITH items AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
bc AS (SELECT p_brand, COUNT(*) AS n_b FROM items GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, n_ab, ca.n_b AS n_a, cb.n_b AS n_b,
       round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
       round(CAST(n_ab AS DOUBLE) / ca.n_b, 6) AS confidence,
       round((CAST(n_ab AS DOUBLE) * n_orders) / (CAST(ca.n_b AS DOUBLE) * cb.n_b), 6) AS lift
FROM pairs
JOIN bc ca ON ca.p_brand = brand_a
JOIN bc cb ON cb.p_brand = brand_b
CROSS JOIN n
WHERE n_ab >= 5
""",
)
def q_basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders: brand co-purchase
    support / confidence / lift (the recommender's first analytic).

    Scale shape: ONE groupBy(l_orderkey).collect_set builds each
    order's distinct sorted brand basket (basket size is bounded by
    the catalog's brand count, so the set buffer is constant-ish) and
    that single exchange feeds all three consumers as ReusedExchange:
    pair generation is basket-LOCAL (``ordered_pairs`` over the sorted
    basket, bounded by basket size², never corpus², no self-join and no
    separate distinct pass), the per-brand marginals explode the same
    baskets, and the basket total is a count over them. Pair counts
    partial-agg before their brand-pair exchange and the marginals +
    one-row total broadcast back onto the (tiny) rule table — 3
    corpus-scale exchanges total (baskets, pair counts, marginals),
    down from 6 in the pre-round-7 two-sided join form. The minsup
    floor (n_ab >= 5) is the a-priori support prune that keeps the
    rule table bounded at any order volume. Ratio arithmetic mirrors
    the oracle expression-for-expression over exact integer counts.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    # The count must EVALUATE bs (size(bs) >= 0 is always true but not
    # foldable): a bare count(1)/count(bs) lets Catalyst prune the
    # collect_set into a plain distinct — a different exchange the
    # other two consumers can't share. Keeping bs live makes all three
    # consumers read ONE baskets shuffle as ReusedExchange.
    n = baskets.agg(
        F.count(F.when(F.size("bs") >= 0, True)).alias("n_orders")
    )
    bc = (
        baskets.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    pairs = (
        ordered_pairs(baskets, "bs", "brand_a", "brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ca = bc.select(F.col("p_brand").alias("brand_a"), F.col("n_b").alias("n_a"))
    cb = bc.select(F.col("p_brand").alias("brand_b"), F.col("n_b").alias("n_b"))
    j = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
    )
    n_ab_d = F.col("n_ab").cast("double")
    return j.select(
        "brand_a",
        "brand_b",
        "n_ab",
        "n_a",
        "n_b",
        F.round(n_ab_d / F.col("n_orders"), 6).alias("support"),
        F.round(n_ab_d / F.col("n_a"), 6).alias("confidence"),
        F.round(
            (n_ab_d * F.col("n_orders")) / (F.col("n_a").cast("double") * F.col("n_b")), 6
        ).alias("lift"),
    )


_PAGE_SIZE = 50
_PAGE_AFTER = 200  # keyset cursor: last o_orderkey seen on the previous page


@query(
    "pagination_keyset_orders",
    oracle=f"""
SELECT o_orderkey, strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS order_day, o_totalprice
FROM orders
WHERE o_orderkey > {_PAGE_AFTER}
ORDER BY o_orderkey
LIMIT {_PAGE_SIZE}
""",
)
def q_pagination_keyset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: WHERE key > cursor ORDER BY key
    LIMIT n — the page-N read that stays O(page) at any table size.

    The contrast is OFFSET pagination, which scans and discards
    offset+n rows per page (page 10^6 of a 100 TB table reads half the
    table); the keyset predicate pushes to the parquet scan (row-group
    min/max skip everything below the cursor) and the LIMIT is a
    bounded TakeOrdered. The cursor value is the previous page's last
    key, so pages are stable under concurrent appends too.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") > _PAGE_AFTER)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_totalprice",
        )
        .orderBy("o_orderkey")
        .limit(_PAGE_SIZE)
    )
