"""M92 — round-5 wave 13: declarative data repair + SCD-2 temporal
joins.

q290 — functional-dependency repair by majority vote (the core move of
Holoclean-class systems, done deterministically): q273 DISCOVERS that
o_custkey → c_mktsegment should hold; this query takes a corrupted
copy (a planted minority of rows flip their segment), elects the
majority value per key (deterministic tie-break on the value), and
emits the repaired per-segment counts plus how many cells changed.
One groupBy for the vote, one broadcast-back join — combinable at any
scale.

q291 — fact-to-SCD-2 temporal join: the standard warehouse pattern —
each event joins the dimension version whose [valid_from, valid_to)
interval contains the event time.  Versions derive deterministically
from the data (per-user status change points), the join is an equi-join
on user + a containment filter (at 100 TB: bucket by user, versions
per user are few — the interval check is per-row work after the
equi-meet, never a theta-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q290_fd_majority_repair",
    """
    WITH corrupted AS (
        SELECT o.o_orderkey, o.o_custkey,
               CASE WHEN o.o_orderkey % 23 = 0 THEN 'CORRUPTED'
                    ELSE c.c_mktsegment END AS seg
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    votes AS (
        SELECT o_custkey, seg, CAST(count(*) AS BIGINT) AS n
        FROM corrupted GROUP BY 1, 2
    ),
    elected AS (
        SELECT o_custkey, seg AS fixed_seg FROM (
            SELECT o_custkey, seg,
                   -- seg NULLS FIRST mirrors Spark's ASC default
                   -- (r12 nulls axis: a null-seg vote can tie a real
                   -- segment's count; both engines must elect alike)
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY n DESC, seg NULLS FIRST)
                     AS rk
            FROM votes
        ) WHERE rk = 1
    ),
    repaired AS (
        SELECT c.o_orderkey, e.fixed_seg,
               CASE WHEN c.seg <> e.fixed_seg THEN 1 ELSE 0 END AS changed
        FROM corrupted c JOIN elected e ON e.o_custkey = c.o_custkey
    )
    SELECT fixed_seg AS seg,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(changed) AS BIGINT) AS n_repaired
    FROM repaired GROUP BY 1
    """,
)
def q290_fd_majority_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote FD repair: per o_custkey elect the most frequent
    segment (ties → lexicographic), rewrite dissenting cells, report
    per-segment totals + repair counts.  A minority corruption
    (1/23 of orders) must be voted out wherever the key has >= 2 clean
    rows; keys where the corruption IS the majority keep it — that
    asymmetry is part of the gated answer."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    corrupted = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("o_orderkey") % 23 == 0, F.lit("CORRUPTED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
        )
    )
    votes = corrupted.groupBy("o_custkey", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("n"), "seg")
    elected = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("o_custkey", F.col("seg").alias("fixed_seg"))
    )
    repaired = corrupted.join(elected, "o_custkey").select(
        "fixed_seg",
        F.when(F.col("seg") != F.col("fixed_seg"), 1).otherwise(0).alias("changed"),
    )
    return repaired.groupBy(F.col("fixed_seg").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("changed").cast("long").alias("n_repaired"),
    )


@query(
    "q291_scd2_temporal_join",
    f"""
    WITH pts AS (
        SELECT user_id, ts,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS rn
        FROM events WHERE user_id % 19 = 0 AND event_id % 4 = 0
    ),
    versions AS (
        SELECT user_id,
               rn AS version,
               ts AS valid_from,
               coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY rn),
                        TIMESTAMP '9999-01-01 00:00:00') AS valid_to
        FROM pts
    ),
    fact AS (
        SELECT user_id, ts, CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
        FROM events WHERE user_id % 19 = 0
    )
    SELECT f.user_id, v.version,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(f.cents) AS BIGINT) AS cents
    FROM fact f
    JOIN versions v
      ON v.user_id = f.user_id
     AND f.ts >= v.valid_from AND f.ts < v.valid_to
    GROUP BY 1, 2
    """,
)
def q291_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event lands in the dimension version valid at its event
    time: versions = change points (every 4th event id), half-open
    [valid_from, valid_to) from lead().  The join meets on user_id
    FIRST (equi), the containment predicate filters after — per-user
    version counts are small, so the meet is bounded fan-out, never a
    range theta-join."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 19 == 0)
    pts = ev.filter(F.col("event_id") % 4 == 0).select(
        "user_id",
        "ts",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    versions = pts.select(
        "user_id",
        F.col("rn").alias("version"),
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(Window.partitionBy("user_id").orderBy("rn")),
            F.to_timestamp(F.lit("9999-01-01 00:00:00")),
        ).alias("valid_to"),
    )
    fact = ev.select(
        "user_id", "ts", bfround(F.col("value") * 100).cast("long").alias("cents")
    )
    return (
        fact.join(
            versions,
            (fact["user_id"] == versions["user_id"])
            & (fact["ts"] >= versions["valid_from"])
            & (fact["ts"] < versions["valid_to"]),
        )
        .groupBy(fact["user_id"].alias("user_id"), "version")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
