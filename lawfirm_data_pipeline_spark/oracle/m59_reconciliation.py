"""M59 — financial reconciliation audit (round 3 closing wave).

q222 reconciles every order header against the sum of its line items
(extendedprice x (1-discount) x (1+tax)) — the canonical
books-balance check between a rollup table and its detail.  On the
driver's synthetic data the invariant deliberately does NOT hold
(zero orders reconcile and 257 header rows have no lines at sf0.01),
which is exactly what the audit exists to surface: the report
quantifies orphans, reconciled rows, and the delta distribution
instead of assuming the books balance.

Determinism discipline: each LINE snaps to integer cents before any
sum (one double expression per row, identical on both engines), so
the per-order totals are exact integers and the comparison can never
flip on float summation order.

Registered after m58 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q222: order header vs line-item detail reconciliation
@query(
    "q222_order_reconciliation",
    f"""
    WITH l AS (SELECT l_orderkey AS k,
                      CAST(sum(CAST({bfround_sql('''l_extendedprice * (1 - l_discount)
                                          * (1 + l_tax) * 100''', 0)} AS BIGINT))
                           AS BIGINT) AS calc_cents
               FROM lineitem GROUP BY 1),
         j AS (SELECT o.o_orderkey,
                      CAST({bfround_sql('o.o_totalprice * 100', 0)} AS BIGINT) AS o_cents,
                      l.calc_cents
               FROM orders o LEFT JOIN l ON l.k = o.o_orderkey),
         d AS (SELECT o_orderkey,
                      (calc_cents IS NULL) AS orphan,
                      CASE WHEN calc_cents IS NOT NULL
                           THEN abs(o_cents - calc_cents) END AS delta
               FROM j)
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT) AS n_no_items,
           CAST(sum(CASE WHEN delta <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reconciled,
           CAST({bfround_sql('quantile_cont(delta, 0.5)', 0)} AS BIGINT) AS p50_delta_cents,
           CAST(max(delta) AS BIGINT) AS max_delta_cents
    FROM d
    """,
)
def q222_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One line-grain aggregate (cents snapped per line), one LEFT join
    from headers (orphans = headers with no detail — never silently
    dropped by an inner join), one summary row: counts, the reconciled
    tally at a 1-cent tolerance, and the p50/max delta that tell
    finance whether the gap is rounding or structural."""
    line_cents = bfround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 100).cast("long")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.sum(line_cents).cast("long").alias("calc_cents"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", bfround(F.col("o_totalprice") * 100).cast("long").alias("o_cents")
    )
    j = o.join(l, o.o_orderkey == l.k, "left")
    d = j.select(
        F.col("calc_cents").isNull().alias("orphan"),
        F.when(
            F.col("calc_cents").isNotNull(), F.abs(F.col("o_cents") - F.col("calc_cents"))
        ).alias("delta"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("orphan").cast("int")).cast("long").alias("n_no_items"),
        # when/otherwise, not a bare boolean cast: with every order an
        # orphan, delta is all-NULL and sum((delta<=1)::int) returns
        # NULL where the oracle's CASE..ELSE 0 returns 0 (r8 fuzz find)
        F.sum(F.when(F.col("delta") <= 1, 1).otherwise(0))
        .cast("long")
        .alias("n_reconciled"),
        bfround(F.expr("percentile(delta, 0.5)")).cast("long").alias("p50_delta_cents"),
        F.max("delta").cast("long").alias("max_delta_cents"),
    )
