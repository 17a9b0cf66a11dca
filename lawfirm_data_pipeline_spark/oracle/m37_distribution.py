"""M37 — distributional analytics without global sorts (round 3,
twentieth wave).

q169 maintains a trailing-7-day rolling MEDIAN of daily purchase
volume (aggregate-as-window over the bounded daily grid); q170 buckets
users into spend deciles the scale-safe way — nine exact percentile
thresholds from ONE aggregate, broadcast back as comparisons — never
an ntile() global sort; q171 reports spend concentration (top-10% /
top-1% shares) from the same threshold trick.

Registered after m36 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


def _user_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return events.groupBy("user_id").agg(
        F.sum(bfround(F.col("value") * 100).cast("long")).cast("long").alias("total")
    )

_USER_CENTS_SQL = f"""
        SELECT user_id, CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS BIGINT)
                 AS total
        FROM events WHERE event_type = 'purchase' GROUP BY 1
"""


# -- q169: rolling 7-day median of daily purchase volume
@query(
    "q169_rolling_median",
    f"""
    WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                          CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS BIGINT)
                            AS cents
                   FROM events WHERE event_type = 'purchase' GROUP BY 1),
         w AS (SELECT d, cents,
                      CAST(count(*) OVER win AS BIGINT) AS m,
                      CAST(median(cents) OVER win AS DOUBLE) AS med7
               FROM daily
               WINDOW win AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT CAST(d AS TIMESTAMP) AS day, cents, med7
    FROM w WHERE m = 7
    """,
)
def q169_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median maintenance — O(window) re-rank per step, viable
    here because the window slides over the DAILY GRID (30 rows after
    one combinable rollup), not the event stream; medians of integer
    cents interpolate on the half-cent grid, so both engines agree
    exactly.  Warm-up days excluded."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(bfround(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    win = Window.orderBy("d").rowsBetween(-6, 0)
    w = daily.select(
        "d",
        "cents",
        F.count(F.lit(1)).over(win).cast("long").alias("m"),
        F.expr("percentile(cents, 0.5)").over(win).alias("med7"),
    )
    return w.filter(F.col("m") == 7).select(
        F.col("d").cast("timestamp").alias("day"), "cents", "med7"
    )


# -- q170: spend deciles WITHOUT a global sort
@query(
    "q170_spend_deciles",
    f"""
    WITH u AS ({_USER_CENTS_SQL}),
         cuts AS (SELECT list_transform(quantile_cont(total,
                      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                      x -> {bfround_sql('x * 1e6', 0)} / 1e6) AS c
                  FROM u),
         b AS (SELECT u.total,
                      1 + len(list_filter(cuts.c, x -> u.total > x)) AS decile
               FROM u, cuts)
    SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(total) AS BIGINT) AS min_cents,
           CAST(max(total) AS BIGINT) AS max_cents
    FROM b GROUP BY 1
    """,
)
def q170_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing the 100 TB way: nine exact percentile
    thresholds from ONE aggregate (a 9-element broadcast), membership
    by comparison — never ntile()'s single-partition global sort.
    Thresholds interpolate on the integer-cent grid; bucket rule is
    strictly-greater-than, identical on both sides."""
    u = _user_cents(spark, sf_dir)
    cuts = u.agg(
        F.expr(
            "transform(percentile(total, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)),"
            f" x -> {bfround_sql('x * 1e6', 0)} / 1e6)"
        ).alias("c")
    )
    b = u.crossJoin(F.broadcast(cuts)).select(
        "total",
        (
            F.lit(1)
            + F.size(F.filter(F.col("c"), lambda x: F.col("total") > x))
        ).cast("long").alias("decile"),
    )
    return b.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("total").cast("long").alias("min_cents"),
        F.max("total").cast("long").alias("max_cents"),
    )


# -- q171: spend concentration (top-10% / top-1% shares)
@query(
    "q171_spend_concentration",
    f"""
    WITH u AS ({_USER_CENTS_SQL}),
         cuts AS (SELECT {bfround_sql('quantile_cont(total, 0.9) * 1e6', 0)} / 1e6 AS p90,
                         {bfround_sql('quantile_cont(total, 0.99) * 1e6', 0)} / 1e6 AS p99
                  FROM u),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                      CAST(sum(total) AS BIGINT) AS all_cents,
                      CAST(sum(CASE WHEN total > cuts.p90 THEN total ELSE 0 END)
                           AS BIGINT) AS top10_cents,
                      CAST(sum(CASE WHEN total > cuts.p99 THEN total ELSE 0 END)
                           AS BIGINT) AS top1_cents
               FROM u, cuts)
    SELECT n_users, all_cents,
           {bfround_sql('CAST(top10_cents AS DOUBLE) / CAST(all_cents AS DOUBLE)', 6)}
             AS top10_share,
           {bfround_sql('CAST(top1_cents AS DOUBLE) / CAST(all_cents AS DOUBLE)', 6)}
             AS top1_share
    FROM s
    """,
)
def q171_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration above the p90/p99 thresholds — the
    whale-dependence metric; same broadcast-threshold shape as q170
    (no sort, no rank), shares are single divisions of exact integer
    sums."""
    u = _user_cents(spark, sf_dir)
    cuts = u.agg(
        F.expr(f"{bfround_sql('percentile(total, 0.9) * 1e6', 0)} / 1e6").alias("p90"),
        F.expr(f"{bfround_sql('percentile(total, 0.99) * 1e6', 0)} / 1e6").alias("p99"),
    )
    s = u.crossJoin(F.broadcast(cuts)).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("total").cast("long").alias("all_cents"),
        F.sum(F.when(F.col("total") > F.col("p90"), F.col("total")).otherwise(0))
        .cast("long")
        .alias("top10_cents"),
        F.sum(F.when(F.col("total") > F.col("p99"), F.col("total")).otherwise(0))
        .cast("long")
        .alias("top1_cents"),
    )
    return s.select(
        "n_users",
        "all_cents",
        bfround(F.col("top10_cents").cast("double") / F.col("all_cents").cast("double"), 6).alias("top10_share"),
        bfround(F.col("top1_cents").cast("double") / F.col("all_cents").cast("double"), 6).alias("top1_share"),
    )
