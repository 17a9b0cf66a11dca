"""M38 — classic decision-support shapes (round 3, twenty-first wave).

TPC-H's three most-copied report queries, rebuilt with the repo's
disciplines: q172 is Q3 (shipping priority — top revenue among a
segment's pre-cutoff orders), q173 is Q10 (returned-item customer
ranking), q174 is Q13 (customer order-count distribution INCLUDING
zero-order customers — the left-join-then-histogram shape).  Together
with q114 (Q5) and q155 (Q8) the suite now covers the canonical
join-topology spectrum: dim-filter fact join, fact-fact join with
ranking, and outer-join distribution.

Registered after m37 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_FP = f"CAST({bfround_sql('l_extendedprice * (1 - l_discount) * 100', 0)} AS BIGINT)"


# -- q172: shipping priority (TPC-H Q3 shape), top-10 by revenue
@query(
    "q172_shipping_priority",
    f"""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS orderdate,
           o.o_orderpriority,
           {bfround_sql(f'CAST(sum({_FP}) AS DOUBLE) / 100', 2)} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < DATE '1996-01-01'
    GROUP BY 1, 2, 3
    ORDER BY sum({_FP}) DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q172_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: the segment-filtered customer set broadcasts into the
    orders scan (dim filter never shuffles the fact), lineitem joins on
    the order key, revenue sums exact cents, and the top-10 is a
    TakeOrderedAndProject heap with an id tie-break — no global sort."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    fp = bfround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(fp).cast("long").alias("fp"))
        .orderBy(F.desc("fp"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "orderdate",
            "o_orderpriority",
            bfround(F.col("fp").cast("double") / 100, 2).alias("revenue"),
        )
    )


# -- q173: returned-item customer ranking (TPC-H Q10 shape), top-20
@query(
    "q173_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {bfround_sql(f'CAST(sum({_FP}) AS DOUBLE) / 100', 2)} AS lost_revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY sum({_FP}) DESC, c.c_custkey
    LIMIT 20
    """,
)
def q173_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: which customers return the most revenue?  The return
    flag prunes lineitem AT THE SCAN (predicate pushdown), customer and
    nation broadcast, the single shuffle is the grouped sum, and the
    top-20 is a bounded heap."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    fp = bfround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(fp).cast("long").alias("fp"))
        .orderBy(F.desc("fp"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            bfround(F.col("fp").cast("double") / 100, 2).alias("lost_revenue"),
        )
    )


# -- q174: customer order-count distribution incl. zeros (TPC-H Q13)
@query(
    "q174_customer_distribution",
    """
    WITH per AS (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
                 FROM customer c
                 LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                 GROUP BY 1)
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM per GROUP BY 1
    """,
)
def q174_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: the order-count histogram MUST include zero-order
    customers — count(o_orderkey) over a LEFT join counts only matched
    rows (null-skipping), which an inner join would silently drop; two
    combinable aggregations after the one outer shuffle."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("n_orders"))
    )
    return per.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
