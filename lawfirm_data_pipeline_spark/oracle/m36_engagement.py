"""M36 — recency-weighted engagement and active-user ratios (round 3,
nineteenth wave).

q167 scores users by exponentially time-decayed spend (the
recency-weighted LTV a ranking model consumes) — per-row exp() snapped
to fixed point before the integer sum, the repo's float-with-integer-
spine rule; q168 is the DAU/WAU stickiness series, with the rolling
7-day distinct-user count computed by a bounded grid join instead of
an (unsupported) DISTINCT window.

Registered after m35 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# decay: half-life 7 days -> lambda = ln(2) / 7 per day; reference
# point is the fixed end of the generated month (identical constants
# on both sides)
_REF = "2024-02-01"
_LAMBDA = 0.0990210257942779  # ln(2)/7


# -- q167: exponentially decayed engagement score per user
@query(
    "q167_decayed_engagement",
    f"""
    WITH t AS (SELECT user_id,
                      CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents,
                      (epoch_us(TIMESTAMP '{_REF}') - epoch_us(ts))
                        / 86400000000.0 AS age_days
               FROM events WHERE event_type = 'purchase'),
         s AS (SELECT user_id,
                      CAST({bfround_sql(f'cents * exp(-{_LAMBDA} * age_days) * 1000000.0', 0)}
                           AS BIGINT) AS fp,
                      cents
               FROM t)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS raw_cents,
           {bfround_sql('CAST(sum(fp) AS DOUBLE) / 1000000.0 / 100.0', 4)} AS decayed_value
    FROM s GROUP BY 1
    """,
)
def q167_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-7-day decayed purchase value per user: age and exp()
    are identical IEEE steps per row, snapped to micro fixed point
    BEFORE the sum — so the distributed aggregate matches the oracle
    bit-for-bit, which a raw float sum never would."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    age_days = (
        F.unix_micros(F.lit(_REF).cast("timestamp")) - F.unix_micros(F.col("ts"))
    ) / 86400000000.0
    cents = bfround(F.col("value") * 100).cast("long")
    fp = bfround(cents * F.exp(F.lit(-_LAMBDA) * age_days) * 1000000.0).cast("long")
    s = events.select("user_id", cents.alias("cents"), fp.alias("fp"))
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("cents").cast("long").alias("raw_cents"),
        bfround(F.sum("fp").cast("double") / 1000000.0 / 100.0, 4).alias(
            "decayed_value"
        ),
    )


# -- q168: DAU / trailing-7-day WAU stickiness
@query(
    "q168_stickiness",
    f"""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         days AS (SELECT DISTINCT d FROM du),
         dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1),
         wau AS (SELECT days.d, CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau
                 FROM days JOIN du
                   ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
                 GROUP BY 1)
    SELECT CAST(dau.d AS TIMESTAMP) AS day, dau.dau, wau.wau,
           {bfround_sql('CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)', 6)}
             AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d
    WHERE dau.d >= (SELECT min(d) FROM days) + INTERVAL 6 DAY
    """,
)
def q168_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU over trailing-7-day WAU per day: the rolling DISTINCT is a
    grid join of the |days| calendar against the (day, user) daily-
    active pairs — each pair lands in <= 7 windows, so the join is
    7x|pairs| rows, combinable, and needs no distinct-over-window
    support.  Warm-up days (incomplete trailing week) are excluded."""
    events = load_table(spark, sf_dir, "events")
    # the (day, user) distinct pairs are the compressed activity table
    # (orders smaller than events) and feed four consumers — pinned, the
    # events scan + distinct shuffle run once (round-6 census: 4x)
    du = pin(events.select(F.to_date("ts").alias("d"), "user_id").distinct())
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    # each pair lands on the <= 7 calendar days whose trailing week holds
    # it: explode it onto those days and equi-join the calendar (the
    # range-condition join planned a nested loop over the day table)
    wau = (
        du.select(
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("d"),
            "user_id",
        )
        .join(days, "d")
        .groupBy("d")
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    start = days.agg(F.date_add(F.min("d"), 6).alias("s"))
    return (
        dau.join(wau, "d")
        .crossJoin(F.broadcast(start))
        .filter(F.col("d") >= F.col("s"))
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "dau",
            "wau",
            bfround(F.col("dau").cast("double") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )
