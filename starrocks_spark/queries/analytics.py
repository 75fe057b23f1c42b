"""Window / analytic functions, grouping sets, set operations,
subqueries, PIVOT and QUALIFY desugaring.

Reference coverage (SURVEY.md §2.5-2.8):
- AnalyticNode + frames (be/src/exec/analytor.h:110) → pyspark Window
  with rowsBetween; ranking/value functions (be/src/exprs/agg/window.h)
- REPEAT node for grouping sets (be/src/exec/repeat_node.h:28) →
  Spark Expand via rollup/cube/GROUPING SETS
- Union/Except/Intersect nodes (be/src/exec/{union,except,intersect}_node.h)
- Subquery decorrelation (ScalarApply2JoinRule.java,
  ExistentialApply2JoinRule.java) → Catalyst RewritePredicateSubquery;
  NULL_AWARE_LEFT_ANTI (PlanNodes.thrift:836) → Spark NAAJ for NOT IN
- QUALIFY (StarRocks.g4:2512) desugars to a window-column filter;
  PIVOT (StarRocks.g4:2574) → DataFrame.pivot

Window sums use the fixed-point policy from _util so running totals
are bit-identical with the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.catalog import load_table, register_tables
from starrocks_spark.queries._util import (dsum, fixed, lit_frame, maybe_broadcast,
                                            sql_dsum, sql_fixed)


def _wsum(col, window, scale: int = 4):
    """Windowed order-independent sum (fixed-point policy over a frame)."""
    return F.sum(fixed(col, scale)).over(window).cast("double") / F.lit(
        float(10**scale)
    )


# ---------------------------------------------------------------- ranking

def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank per customer, top-3 orders.
    Also exercises the rank-pushdown path (InferWindowGroupLimit —
    reference: PushDownLimitRankingWindowRule.java)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


_WINDOW_RANK_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER w AS rn,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer ordered by date (ROWS UNBOUNDED
    PRECEDING frame — reference: analytor.h frame types)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _wsum(F.col("o_totalprice"), w).alias("running_total"),
    )


_WINDOW_RUNNING_SQL = f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM({sql_fixed('o_totalprice')}) OVER w AS DOUBLE) / 10000.0 AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag value functions + delta vs previous order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (F.col("o_totalprice") - prev).alias("price_delta"),
    )


_WINDOW_LEAD_LAG_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       o_totalprice - lag(o_totalprice) OVER w AS price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def window_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over customers per nation."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_WINDOW_NTILE_SQL = """
SELECT c_nationkey, c_custkey,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a bounded ROWS frame (2 PRECEDING..CURRENT)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (_wsum(F.col("o_totalprice"), w) / F.count(F.lit(1)).over(w)).alias(
            "moving_avg"
        ),
    )


_WINDOW_MOVING_AVG_SQL = f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM({sql_fixed('o_totalprice')}) OVER w AS DOUBLE) / 10000.0
         / COUNT(*) OVER w AS moving_avg
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


_WINDOW_FIRST_LAST_SQL = """
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ------------------------------------------------------- grouping sets

def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping() flags (reference: repeat_node.h +
    grouping_sets_functions.cpp)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
    )


_GROUPING_ROLLUP_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over segment × nation (broadcast dim join under Expand)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .cube("c_mktsegment", "n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("c_acctbal")).alias("balance"),
        )
    )


_GROUPING_CUBE_SQL = f"""
SELECT c_mktsegment, n_name, COUNT(*) AS cnt,
       {sql_dsum('c_acctbal')} AS balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (c_mktsegment, n_name)
"""


def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS list via SQL."""
    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# ------------------------------------------------------------- set ops

def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customers ordering in 1996 but not 1997."""
    orders = load_table(spark, sf_dir, "orders")
    in_96 = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    in_97 = orders.filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return in_96.subtract(in_97)  # EXCEPT (distinct) semantics


_SETOP_EXCEPT_SQL = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
"""


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — customers ordering in both years."""
    orders = load_table(spark, sf_dir, "orders")
    in_96 = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    in_97 = orders.filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    return in_96.intersect(in_97)


_SETOP_INTERSECT_SQL = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
"""


def setop_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two labeled scans + reaggregation."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_custkey", F.lit("open").alias("bucket")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_custkey", F.lit("finished").alias("bucket")
    )
    return a.unionAll(b).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("o_custkey").alias("customers"),
    )


_SETOP_UNION_SQL = """
SELECT bucket, COUNT(*) AS cnt, COUNT(DISTINCT o_custkey) AS customers
FROM (
  SELECT o_custkey, 'open' AS bucket FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT o_custkey, 'finished' AS bucket FROM orders WHERE o_orderstatus = 'F'
)
GROUP BY bucket
"""


# ----------------------------------------------------------- subqueries

def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → LEFT SEMI hash join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    # semi join from the orders side: keep orders with ≥1 late lineitem
    matched = orders.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    ).orderBy("o_orderpriority")


_SUBQUERY_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → LEFT ANTI join: customers with no order in window."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("idle_customers"))
        .orderBy("c_mktsegment")
    )


_SUBQUERY_NOT_EXISTS_SQL = """
SELECT c_mktsegment, COUNT(*) AS idle_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1995-01-01'
                    AND o_orderdate < TIMESTAMP '1995-04-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def subquery_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a nullable inner side → Catalyst plans a
    null-aware anti join (reference: NULL_AWARE_LEFT_ANTI,
    PlanNodes.thrift:836)."""
    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey NOT IN (
            SELECT nullif(n_nationkey, 99) FROM nation WHERE n_regionkey IN (0, 1))
        """
    )


_SUBQUERY_NOT_IN_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey NOT IN (
    SELECT nullif(n_nationkey, 99) FROM nation WHERE n_regionkey IN (0, 1))
"""


def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders above the global average."""
    register_tables(spark, sf_dir)
    avg_expr = (
        "CAST(SUM(CAST(FLOOR((o_totalprice) * 10000.0 + 0.5) AS DECIMAL(38,0)))"
        " AS DOUBLE) / 10000.0 / COUNT(o_totalprice)"
    )
    return spark.sql(
        f"""
        SELECT o_orderstatus, COUNT(*) AS big_orders
        FROM orders
        WHERE o_totalprice > (SELECT {avg_expr} FROM orders)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


_SUBQUERY_SCALAR_SQL = """
SELECT o_orderstatus, COUNT(*) AS big_orders
FROM orders
WHERE o_totalprice > (
    SELECT CAST(SUM(CAST(FLOOR((o_totalprice) * 10000.0 + 0.5) AS DECIMAL(38,0)))
           AS DOUBLE) / 10000.0 / COUNT(o_totalprice)
    FROM orders)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def subquery_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average),
    decorrelated into an aggregate + join (reference:
    ScalarApply2JoinRule.java — same rewrite Catalyst does)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.sum(fixed(F.col("l_quantity"))).cast("double")
            / F.lit(10000.0)
            / F.count("l_quantity")
        ).alias("avg_qty")
    )
    return (
        li.join(
            maybe_broadcast(per_part), F.col("l_partkey") == F.col("ap_partkey")
        )
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(dsum(F.col("l_extendedprice")).alias("small_lot_revenue"))
    )


_SUBQUERY_CORRELATED_SQL = f"""
SELECT {sql_dsum('l_extendedprice')} AS small_lot_revenue
FROM lineitem l1
WHERE l_quantity < 0.5 * (
    SELECT CAST(SUM(CAST(FLOOR((l_quantity) * 10000.0 + 0.5) AS DECIMAL(38,0)))
           AS DOUBLE) / 10000.0 / COUNT(l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
"""


# ------------------------------------------------ pivot / qualify / misc

def qualify_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY desugar: top-1 order per customer via row_number = 1."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) = 1
"""


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts by priority × status (reference grammar
    StarRocks.g4:2574). Fixed pivot-value list keeps the plan static."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0)
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_orderpriority
"""


def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE expression bucketing + conditional counts."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        orders.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_if(F.col("o_orderstatus") == "O").alias("open_cnt"),
        )
        .orderBy("price_bucket")
    )


_CASE_BUCKETS_SQL = """
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium'
            ELSE 'large' END AS price_bucket,
       COUNT(*) AS cnt,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS open_cnt
FROM orders
GROUP BY 1
ORDER BY price_bucket
"""


def topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProjectExec (reference:
    ChunksSorterTopn / topn_node.h)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), "p_partkey")
        .limit(15)
    )


_TOPK_SQL = """
SELECT p_partkey, p_name, p_retailprice
FROM part
ORDER BY p_retailprice DESC, p_partkey
LIMIT 15
"""


def values_inline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES list (LocalRelation) broadcast-joined to a fact scan
    (reference: raw_values_node.cpp)."""
    li = load_table(spark, sf_dir, "lineitem")
    flags = lit_frame(
        spark,
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, flag_desc string",
    )
    return (
        li.join(F.broadcast(flags), F.col("l_returnflag") == F.col("flag"))
        .groupBy("flag_desc")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("flag_desc")
    )


_VALUES_JOIN_SQL = """
SELECT flag_desc, COUNT(*) AS cnt
FROM lineitem
JOIN (VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'none')) AS f(flag, flag_desc)
  ON l_returnflag = flag
GROUP BY flag_desc
ORDER BY flag_desc
"""


def distinct_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one GROUP BY (reference:
    RewriteMultiDistinctRule.java → Catalyst Expand-based rewrite)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("distinct_customers"),
            F.countDistinct("o_orderpriority").alias("distinct_priorities"),
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


_DISTINCT_MULTI_SQL = f"""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS distinct_customers,
       COUNT(DISTINCT o_orderpriority) AS distinct_priorities,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


QUERIES = {
    "window_rank": window_rank,
    "window_running_total": window_running_total,
    "window_lead_lag": window_lead_lag,
    "window_ntile_dist": window_ntile_dist,
    "window_moving_avg": window_moving_avg,
    "window_first_last": window_first_last,
    "grouping_rollup": grouping_rollup,
    "grouping_cube": grouping_cube,
    "grouping_sets_explicit": grouping_sets_explicit,
    "setop_except": setop_except,
    "setop_intersect": setop_intersect,
    "setop_union_counts": setop_union_counts,
    "subquery_exists": subquery_exists,
    "subquery_not_exists": subquery_not_exists,
    "subquery_not_in": subquery_not_in,
    "subquery_scalar": subquery_scalar,
    "subquery_correlated_avg": subquery_correlated_avg,
    "qualify_top_order": qualify_top_order,
    "pivot_status": pivot_status,
    "case_when_buckets": case_when_buckets,
    "topk_parts": topk_parts,
    "values_inline_join": values_inline_join,
    "distinct_multi_agg": distinct_multi_agg,
}

ORACLE = {
    "window_rank": _WINDOW_RANK_SQL,
    "window_running_total": _WINDOW_RUNNING_SQL,
    "window_lead_lag": _WINDOW_LEAD_LAG_SQL,
    "window_ntile_dist": _WINDOW_NTILE_SQL,
    "window_moving_avg": _WINDOW_MOVING_AVG_SQL,
    "window_first_last": _WINDOW_FIRST_LAST_SQL,
    "grouping_rollup": _GROUPING_ROLLUP_SQL,
    "grouping_cube": _GROUPING_CUBE_SQL,
    "grouping_sets_explicit": _GROUPING_SETS_SQL,
    "setop_except": _SETOP_EXCEPT_SQL,
    "setop_intersect": _SETOP_INTERSECT_SQL,
    "setop_union_counts": _SETOP_UNION_SQL,
    "subquery_exists": _SUBQUERY_EXISTS_SQL,
    "subquery_not_exists": _SUBQUERY_NOT_EXISTS_SQL,
    "subquery_not_in": _SUBQUERY_NOT_IN_SQL,
    "subquery_scalar": _SUBQUERY_SCALAR_SQL,
    "subquery_correlated_avg": _SUBQUERY_CORRELATED_SQL,
    "qualify_top_order": _QUALIFY_SQL,
    "pivot_status": _PIVOT_SQL,
    "case_when_buckets": _CASE_BUCKETS_SQL,
    "topk_parts": _TOPK_SQL,
    "values_inline_join": _VALUES_JOIN_SQL,
    "distinct_multi_agg": _DISTINCT_MULTI_SQL,
}


def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/lag with IGNORE NULLS (reference:
    window functions support [IGNORE NULLS] — FunctionSet window
    family): a deterministically NULLed price column (every third
    order) must resolve to the nearest non-null in frame order in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey", "o_orderkey",
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_totalprice"))
        .alias("p"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return base.select(
        "o_custkey", "o_orderkey", "p",
        F.first("p", ignorenulls=True).over(wf).alias("first_nn"),
        F.last("p", ignorenulls=True).over(wf).alias("last_nn"),
        F.lag("p", 1, None).over(w).alias("prev_any"),
    ).orderBy("o_custkey", "o_orderkey")


_IGNORE_NULLS_SQL = """
SELECT o_custkey, o_orderkey, p,
       first_value(p IGNORE NULLS) OVER wf AS first_nn,
       last_value(p IGNORE NULLS) OVER wf AS last_nn,
       lag(p, 1) OVER w AS prev_any
FROM (
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END AS p
  FROM orders
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""

QUERIES["window_ignore_nulls"] = window_ignore_nulls
ORACLE["window_ignore_nulls"] = _IGNORE_NULLS_SQL
