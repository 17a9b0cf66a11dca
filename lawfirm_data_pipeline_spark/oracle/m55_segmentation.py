"""M55 — customer/product segmentation (round 3 continuation).

* q215 — RFM segmentation: recency/frequency/monetary quintile codes
  per customer, rolled up to segment sizes — the marketing-analytics
  staple.  All three quintile boundaries come from ONE aggregate of
  exact integers broadcast back over the per-customer summary (the
  q170 cuts shape applied three times in one pass).
* q216 — ABC (Pareto) classification of parts by revenue: cumulative
  revenue share walks the per-part aggregate, A = first 70%, B = next
  20%, C = tail — q180's cumulative-share machinery at product grain
  with the classic inventory thresholds.

Registered after m54 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import global_running_sum
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_QS = [0.2, 0.4, 0.6, 0.8]
_QS_SQL = "[0.2, 0.4, 0.6, 0.8]"


# -- q215: RFM quintile segmentation
@query(
    "q215_rfm_segments",
    f"""
    WITH o AS (SELECT o_custkey AS c,
                      epoch_us(o_orderdate) AS ts_us,
                      CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents
               FROM orders),
         per AS (SELECT c,
                        CAST(max(ts_us) AS BIGINT) AS last_us,
                        CAST(count(*) AS BIGINT) AS freq,
                        CAST(sum(cents) AS BIGINT) AS monetary
                 FROM o GROUP BY 1),
         cuts AS (SELECT list_transform(quantile_cont(last_us, {_QS_SQL}),
                                        x -> {bfround_sql('x * 1e6', 0)} / 1e6) AS rc,
                         list_transform(quantile_cont(freq, {_QS_SQL}),
                                        x -> {bfround_sql('x * 1e6', 0)} / 1e6) AS fc,
                         list_transform(quantile_cont(monetary, {_QS_SQL}),
                                        x -> {bfround_sql('x * 1e6', 0)} / 1e6) AS mc
                  FROM per),
         scored AS (SELECT per.c,
                           1 + len(list_filter(cuts.rc, x -> per.last_us > x)) AS r,
                           1 + len(list_filter(cuts.fc, x -> per.freq > x)) AS f,
                           1 + len(list_filter(cuts.mc, x -> per.monetary > x)) AS m
                    FROM per, cuts)
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q215_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One per-customer aggregate (last order epoch, order count, cents
    total), one 12-value cuts aggregate broadcast back, strictly-
    greater quintile coding on all three axes (5 = most recent / most
    frequent / highest spend), segment sizes out.  Two combinable
    aggregations + a broadcast — no sort, no ntile."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.unix_micros(F.col("o_orderdate")).alias("ts_us"),
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = o.groupBy("c").agg(
        F.max("ts_us").cast("long").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("cents").cast("long").alias("monetary"),
    )
    qarr = "array(" + ",".join(str(q) for q in _QS) + ")"
    cuts = per.agg(
        F.expr(
            f"transform(percentile(last_us, {qarr}), x -> {bfround_sql('x * 1e6', 0)} / 1e6)"
        ).alias("rc"),
        F.expr(
            f"transform(percentile(freq, {qarr}), x -> {bfround_sql('x * 1e6', 0)} / 1e6)"
        ).alias("fc"),
        F.expr(
            f"transform(percentile(monetary, {qarr}), x -> {bfround_sql('x * 1e6', 0)} / 1e6)"
        ).alias("mc"),
    )

    def code(col: str, cutcol: str):
        return (
            F.lit(1)
            + F.size(F.filter(F.col(cutcol), lambda x: F.col(col) > x))
        ).cast("long")

    scored = per.crossJoin(F.broadcast(cuts)).select(
        code("last_us", "rc").alias("r"),
        code("freq", "fc").alias("f"),
        code("monetary", "mc").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


# -- q216: ABC classification of parts by revenue
@query(
    "q216_abc_classification",
    f"""
    WITH p AS (SELECT l_partkey AS part,
                      CAST(sum(CAST({bfround_sql('l_extendedprice * 100', 0)} AS BIGINT))
                           AS BIGINT) AS rev
               FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM p),
         w AS (SELECT part, rev,
                      CAST(sum(rev) OVER (ORDER BY rev DESC, part) AS BIGINT)
                        AS cum
               FROM p),
         c AS (SELECT w.part, w.rev,
                      CASE WHEN 10 * w.cum <= 7 * t.total THEN 'A'
                           WHEN 10 * w.cum <= 9 * t.total THEN 'B'
                           ELSE 'C' END AS cls
               FROM w, t)
    SELECT cls,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           {bfround_sql('CAST(sum(rev) AS DOUBLE) / max(t2.total)', 6)} AS revenue_share
    FROM c, (SELECT CAST(sum(rev) AS BIGINT) AS total FROM p) t2
    GROUP BY 1
    """,
)
def q216_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A = parts covering the first 70% of revenue (in descending
    revenue order), B = to 90%, C = the tail; thresholds applied as
    exact integer cross-multiplication on the cumulative cents.  The
    window runs over the per-part AGGREGATE (catalog-sized), never the
    lineitem stream — the q180 cumulative-share discipline with the
    classic inventory cutoffs."""
    p = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(bfround(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
    )
    t = p.agg(F.sum("rev").cast("long").alias("total"))
    cum = global_running_sum(
        p, "rev", [F.col("rev").desc(), F.col("part")], "cum"
    ).withColumn("cum", F.col("cum").cast("long"))
    c = cum.crossJoin(F.broadcast(t)).withColumn(
        "cls",
        F.when(10 * F.col("cum") <= 7 * F.col("total"), "A")
        .when(10 * F.col("cum") <= 9 * F.col("total"), "B")
        .otherwise("C"),
    )
    return c.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("revenue_cents"),
        bfround(F.sum("rev") / F.max("total"), 6).alias("revenue_share"),
    )
