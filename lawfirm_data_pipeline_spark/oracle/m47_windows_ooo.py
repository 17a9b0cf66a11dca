"""M47 — time-range windows, grouping sets, and arrival-order ops
(round 3 continuation).

* q199 — burst-velocity features via a true RANGE-interval frame
  (events within the trailing 10 minutes of each event, per user) —
  the fraud/rate-limit feature the ROWS-frame family can't express
  when event spacing is irregular.
* q200 — GROUPING SETS marginals: three aggregation grains of the
  order book in ONE pass with grouping_id disambiguation — the
  distinct API surface next to q41's ROLLUP hierarchy.
* q201 — out-of-order arrival audit: how late do events arrive
  relative to the running event-time high-water mark, per type — the
  measurement that SIZES a streaming watermark (`withWatermark`)
  instead of guessing it.

Registered after m46 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q199: trailing-10-minute velocity per user (RANGE frame)
@query(
    "q199_event_velocity",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         v AS (SELECT user_id,
                      count(*) OVER (PARTITION BY user_id ORDER BY us
                                     RANGE BETWEEN 600000000 PRECEDING
                                               AND CURRENT ROW) AS vel
               FROM e),
         m AS (SELECT user_id, CAST(max(vel) AS BIGINT) AS max_velocity,
                      CAST(count(*) AS BIGINT) AS n_events
               FROM v GROUP BY 1)
    SELECT max_velocity,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM m GROUP BY 1
    """,
)
def q199_event_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max events any user fits in a trailing 10-minute window,
    histogrammed.  The frame is RANGE over microsecond epochs — ties
    at the same timestamp all land in each other's window, which a
    ROWS frame would split nondeterministically.  One shuffle keyed by
    user; the histogram reduces per-user rows to a handful of counts.
    At stream time the same feature is the q25 stateful path; this is
    its batch/backfill twin."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    v = e.select("user_id", F.count(F.lit(1)).over(w).alias("vel"))
    m = v.groupBy("user_id").agg(
        F.max("vel").cast("long").alias("max_velocity"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return m.groupBy("max_velocity").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


# -- q200: grouping-sets marginals with grouping_id
@query(
    "q200_grouping_sets",
    f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def q200_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three marginal tables of the order book — by status, by
    priority, and their cross — in ONE aggregation pass instead of
    three scans + a union; grouping() bits tell rollup NULLs from data
    NULLs (q41's trick, generalized to arbitrary set lists).  Spark
    expands the sets map-side, so the scan is still read once."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        (
            F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
        ).cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    return g.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "gid",
        "n",
        "revenue_cents",
    )


# -- q201: out-of-order arrival audit (watermark sizing)
@query(
    "q201_watermark_audit",
    f"""
    WITH a AS (SELECT event_type AS etype, epoch_us(ts) AS us,
                      max(epoch_us(ts)) OVER (PARTITION BY event_type
                                              ORDER BY event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                                       AND 1 PRECEDING) AS hwm
               FROM events),
         l AS (SELECT etype,
                      CASE WHEN hwm IS NOT NULL AND us < hwm
                           THEN hwm - us ELSE 0 END AS late_us
               FROM a),
         s AS (SELECT etype,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_late,
                      CAST(max(late_us) AS BIGINT) AS max_late_us,
                      CAST(quantile_disc(late_us, 0.99) AS BIGINT) AS p99_late_us
               FROM l GROUP BY 1)
    SELECT etype, n, n_late,
           {bfround_sql('CAST(n_late AS DOUBLE) / n', 6)} AS late_share,
           CAST({bfround_sql('max_late_us / 1e6', 0)} AS BIGINT) AS max_late_s,
           CAST({bfround_sql('p99_late_us / 1e6', 0)} AS BIGINT) AS p99_late_s
    FROM s
    """,
)
def q201_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateness of each event vs the running event-time high-water
    mark in arrival order (event_id), summarized per type: late share,
    max and p99 lateness in seconds — exactly the numbers that justify
    a `withWatermark` delay (q23's windows currently assume one; this
    measures it).  One shuffle keyed by type for the running max; the
    percentile runs per-type on the lateness column."""
    a = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("etype"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = (
        Window.partitionBy("etype")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = a.select(
        "etype",
        F.when(
            F.max("us").over(w).isNotNull() & (F.col("us") < F.max("us").over(w)),
            F.max("us").over(w) - F.col("us"),
        )
        .otherwise(F.lit(0))
        .alias("late_us"),
    )
    s = late.groupBy("etype").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("late_us") > 0).cast("int")).cast("long").alias("n_late"),
        F.max("late_us").cast("long").alias("max_late_us"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY late_us)")
        .cast("long")
        .alias("p99_late_us"),
    )
    return s.select(
        "etype",
        "n",
        "n_late",
        bfround(F.col("n_late") / F.col("n"), 6).alias("late_share"),
        bfround(F.col("max_late_us") / 1e6).cast("long").alias("max_late_s"),
        bfround(F.col("p99_late_us") / 1e6).cast("long").alias("p99_late_s"),
    )
