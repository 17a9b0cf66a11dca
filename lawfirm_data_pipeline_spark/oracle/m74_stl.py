"""M74 — round-4 wave 14: STL-style seasonal decomposition, exact.

q260 decomposes the daily event-value series into trend (7-day
centered moving average), day-of-week seasonal, and residual — the
classic monitoring decomposition — with every component held in
INTEGER micro-cents: the moving average is ``(window_sum * 1e6) div
window_count``, seasonality is an integer mean of integer detrended
values, residual is a difference.  No float ever aggregates, so the
distributed result is bit-identical to the single-threaded oracle —
the same discipline that makes PageRank and CUPED hash-stable.
Day-of-week is epoch-day mod 7 (identical on both engines; the
built-in dayofweek functions disagree on week start).

Registered after m73 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_FP = 1_000_000


@query(
    "q260_stl_decompose",
    f"""
    WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS BIGINT)
                        AS cents
               FROM events GROUP BY 1),
         t AS (SELECT day, cents,
                      CAST(sum(cents) OVER w AS BIGINT) AS wsum,
                      CAST(count(*) OVER w AS BIGINT) AS wcnt,
                      date_diff('day', DATE '1970-01-01', day) % 7 AS dow
               FROM d
               WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING)),
         tr AS (SELECT day, cents, dow,
                       (wsum * {_FP}) // wcnt AS trend_micro,
                       cents * {_FP} - (wsum * {_FP}) // wcnt AS det_micro
                FROM t),
         se AS (SELECT dow,
                       CAST(sum(det_micro) AS BIGINT)
                         // CAST(count(*) AS BIGINT) AS seasonal_micro
                FROM tr GROUP BY 1)
    SELECT CAST(tr.day AS VARCHAR) AS day, tr.cents,
           CAST(tr.dow AS BIGINT) AS dow,
           CAST(tr.trend_micro AS BIGINT) AS trend_micro,
           CAST(se.seasonal_micro AS BIGINT) AS seasonal_micro,
           CAST(tr.det_micro - se.seasonal_micro AS BIGINT) AS residual_micro
    FROM tr JOIN se ON se.dow = tr.dow
    """,
)
def q260_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend / day-of-week seasonal / residual of the daily value
    series, all in integer micro-cents (TRUNCATING-div moving average
    and seasonal means: Spark ``div`` and DuckDB ``//`` both truncate
    toward zero on negative sums — spec-mirrored by
    tests/test_stl_fuzz.py) — exact at any partitioning.  One daily
    aggregate, one 7-row window, one 7-group broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            bfround(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("wsum"),
        F.count(F.lit(1)).over(w).cast("long").alias("wcnt"),
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7
        ).cast("long").alias("dow"),
    )
    tr = t.select(
        "day",
        "cents",
        "dow",
        F.expr(f"(wsum * {_FP}) div wcnt").alias("trend_micro"),
        F.expr(f"cents * {_FP} - (wsum * {_FP}) div wcnt").alias("det_micro"),
    )
    se = tr.groupBy("dow").agg(
        F.expr("sum(det_micro) div count(*)").cast("long").alias("seasonal_micro")
    )
    return tr.join(F.broadcast(se), "dow").select(
        F.col("day").cast("string").alias("day"),
        "cents",
        "dow",
        F.col("trend_micro").cast("long").alias("trend_micro"),
        F.col("seasonal_micro").cast("long").alias("seasonal_micro"),
        (F.col("det_micro") - F.col("seasonal_micro"))
        .cast("long")
        .alias("residual_micro"),
    )
