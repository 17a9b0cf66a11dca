"""M10 — profiling, extended window functions, datetime kit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.profile import profile_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]

_PROFILE_SQL = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column, count(*) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM orders
    """
    for c in _PROFILE_COLS
)


@query("q59_profile", _PROFILE_SQL)
def q59_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style stats: one pass over the table for all columns
    (the SQL twin does one pass per column — the Spark shape is the one
    that survives at 100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, _PROFILE_COLS)


# -- q60: extended window functions over per-customer order sequences
@query(
    "q60_window_misc",
    f"""
    SELECT o_custkey, o_orderkey,
           {bfround_sql('percent_rank() OVER w', 6)} AS pr,
           {bfround_sql('cume_dist() OVER w', 6)} AS cd,
           first_value(o_orderkey) OVER w AS first_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    -- NULLS FIRST mirrors Spark's ASC default (r12 nulls axis)
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey)
    """,
)
def q60_window_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / first_value / nth_value share one
    window spec — one shuffle on the partition key serves all four."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        bfround(F.percent_rank().over(w), 6).alias("pr"),
        bfround(F.cume_dist().over(w), 6).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


# -- q61: datetime kit — truncation, extraction, arithmetic
@query(
    "q61_datetime_kit",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since_95
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def q61_datetime_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation / field extraction / interval arithmetic — all
    scan-side expressions (DuckDB ``dayofweek`` is 0-based Sunday;
    Spark ``dayofweek`` is 1-based, hence the -1)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
    )
