"""M89 — round-5 wave 10: dynamic partition pruning + referentially
consistent pseudonymization.

q284 — dynamic partition pruning (DPP): the optimizer feature that
makes star-schema joins viable at 100 TB — the dim-side filter is
evaluated FIRST and its surviving keys pushed into the fact scan's
PartitionFilters at runtime, so the fact table reads only the matching
partition directories.  The fact table is laid out partitioned by the
join key; the plan must carry ``dynamicpruningexpression`` (pinned in
tests/test_plans.py) and the revenue answer must equal the plain join.

q285 — keyed pseudonymization with referential integrity: GDPR-grade
exports replace user ids with a keyed digest (md5(secret || id) here —
production swaps in HMAC-SHA256) CONSISTENTLY across tables, so joins
still line up while raw ids never leave.  The gate re-joins the two
pseudonymized tables and checks per-pseudonym activity; any
inconsistency between the two tables' mappings breaks the join and
flips the hash.  Pure projection per table — scales as the scans do.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


def dpp_revenue(spark: SparkSession, sf_dir: str, fact_dir: str) -> DataFrame:
    """Partition-pruned star join: fact partitioned by o_orderpriority,
    dim filter decides at runtime which partitions are read."""
    if not os.path.exists(os.path.join(fact_dir, "_SUCCESS")):
        load_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # Deliberately a Python-backed createDataFrame, NOT a SQL VALUES
    # literal: a foldable LocalRelation dim gets inlined by Catalyst
    # and no dynamicpruningexpression is ever inserted (the plan pin in
    # test_plans would fail) — the opaque relation is what makes this
    # exercise REAL runtime DPP, like a dim table read from storage.
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 1), ("3-MEDIUM", 0),
         ("4-NOT SPECIFIED", 0), ("5-LOW", 0)],
        "p string, keep int",
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("keep") == 1)),
            fact["o_orderpriority"] == F.col("p"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(bfround(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )


@query(
    "q284_dynamic_partition_pruning",
    f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def q284_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(prefix="q284_", ignore_cleanup_errors=True) as scratch:
        out = dpp_revenue(spark, sf_dir, os.path.join(scratch, "fact"))
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


def pseudonymize(df: DataFrame, col: str, secret: str = "s3cr3t") -> DataFrame:
    """Replace ``col`` with a keyed digest; same key + same secret →
    same pseudonym everywhere, so FK joins survive the export."""
    return df.withColumn(
        col, F.md5(F.concat(F.lit(secret + ":"), F.col(col).cast("string")))
    )


@query(
    "q285_pseudonymized_join",
    f"""
    WITH e AS (SELECT md5('s3cr3t:' || CAST(user_id AS VARCHAR)) AS pid,
                      CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
               FROM events WHERE user_id % 37 = 0),
         c AS (SELECT md5('s3cr3t:' || CAST(c_custkey AS VARCHAR)) AS pid,
                      c_mktsegment
               FROM customer WHERE c_custkey % 37 = 0)
    SELECT c.c_mktsegment,
           CAST(count(DISTINCT c.pid) AS BIGINT) AS n_users,
           CAST(count(e.cents) AS BIGINT) AS n_events,
           CAST(coalesce(sum(e.cents), 0) AS BIGINT) AS cents
    FROM c LEFT JOIN e ON e.pid = c.pid
    GROUP BY 1
    """,
)
def q285_pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymize user ids independently in events and customer, then
    join ON THE PSEUDONYMS: per-segment user/event/cents totals survive
    iff the mapping is referentially consistent across tables."""
    e = pseudonymize(
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 37 == 0)
        .select(
            F.col("user_id").alias("pid"),
            bfround(F.col("value") * 100).cast("long").alias("cents"),
        ),
        "pid",
    )
    c = pseudonymize(
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 37 == 0)
        .select(F.col("c_custkey").alias("pid"), "c_mktsegment"),
        "pid",
    )
    return (
        c.join(e, "pid", "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct(c["pid"]).cast("long").alias("n_users"),
            F.count("cents").cast("long").alias("n_events"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("cents"),
        )
    )
