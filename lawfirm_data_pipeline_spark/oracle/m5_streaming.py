"""M5 — streaming / event-time oracle queries (SURVEY.md §7 M5, §2.C).

q22 and q25 run REAL Structured Streaming (``readStream`` on the events
parquet, memory sink, synchronous drain) — the driver's oracle then
checks the streamed result against batch SQL, proving batch/stream
unification.  q23/q24 exercise the same window transforms through the
batch API.

Float sums are rounded to the input's 2-decimal resolution on both sides:
streaming state merge order ≠ DuckDB scan order, and double addition is
not associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_events_stream, load_table
from ..queries import query
from ..streaming.bounded import run_stream_to_table
from ..streaming.windows import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q22_stream_tumbling_window",
    f"""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS wend,
           event_type,
           count(*) AS n,
           {bfround_sql('sum(value)', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q22_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = load_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        spark,
        stream,
        lambda df: tumbling_counts(df, "6 hours", "1 hour"),
        "q22_tumbling",
        output_mode="complete",
    )
    return out.withColumn("sum_value", bfround("sum_value", 2))


@query(
    "q23_sliding_window",
    """
    WITH starts AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) - to_hours(i) AS wstart
        FROM events CROSS JOIN (VALUES (0), (1)) t(i)
    )
    SELECT wstart, wstart + INTERVAL '2 hours' AS wend, count(*) AS n
    FROM starts GROUP BY wstart
    """,
)
def q23_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load_table(spark, sf_dir, "events"), "2 hours", "1 hour")


@query(
    "q24_session_window",
    f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes' OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events,
           {bfround_sql('sum(value)', 2)} AS sum_value
    FROM islands
    GROUP BY user_id, sid
    """,
)
def q24_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = session_windows(load_table(spark, sf_dir, "events"), "30 minutes")
    return out.withColumn("sum_value", bfround("sum_value", 2))


@query(
    "q25_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q25_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark with the watermark covering the whole
    bounded replay ≡ global DISTINCT (state stays bounded on an unbounded
    stream — the point of the operator)."""
    from ..streaming.queue import stream_dedup_within_watermark

    stream = load_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        spark,
        stream,
        lambda df: stream_dedup_within_watermark(df, ["user_id", "event_type"], watermark="720 hours")
        .select("user_id", "event_type"),
        "q25_dedup",
        output_mode="append",
    )
    return out
