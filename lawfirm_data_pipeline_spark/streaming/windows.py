"""Event-time window aggregates: tumbling, sliding, session + watermark.

The transforms are plain DataFrame functions so the SAME code path serves
batch DataFrames and streaming DataFrames (Spark's unified API); streaming
callers drain them through ``bounded.run_stream_to_table``, batch oracle
queries call them directly.

Watermark policy: ``withWatermark`` bounds state for late data.  On a
bounded replay (tests) a generous watermark admits everything; in
production the delay is the lateness SLA — state size is
O(windows-in-flight × groups), independent of total stream length, which
is what makes these safe on an unbounded 100 TB/day event firehose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    width: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window count/sum per event_type."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window event counts (each event lands in width/slide windows)."""
    return (
        events.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), F.col("w.end").alias("wend"), "n")
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows per user: a session ends after ``gap`` of silence.

    ``session_window`` end = last event + gap (Spark semantics; the
    oracle replicates with lag/cumsum island detection).
    """
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def enriched_tumbling_counts(
    events: DataFrame,
    dim: DataFrame,
    on_left: str,
    on_right: str,
    group_col: str,
    width: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static enrichment join + tumbling aggregate.

    The canonical streaming topology: an unbounded fact stream joins a
    slowly-changing dimension (user → account, device → fleet) BEFORE
    windowed aggregation.  The static side is explicitly broadcast — a
    stream-static join never shuffles the stream, and the dimension
    snapshot is re-read per micro-batch (picking up dim updates without
    restarting the query).  Works identically on batch frames (unified
    API), which is how the oracle checks it.
    """
    enriched = events.withWatermark(ts_col, watermark).join(
        F.broadcast(dim), events[on_left] == dim[on_right]
    )
    return (
        enriched.groupBy(F.window(ts_col, width).alias("w"), group_col)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            group_col,
            "n",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join on key + event-time interval:
    ``right_ts ∈ [left_ts - lookback, left_ts]``.

    The canonical attribution topology (purchase joins the clicks that
    preceded it).  Both sides carry watermarks, so each side's join
    state is bounded to ``watermark + lookback`` of event time —
    O(rate × window), independent of stream length; without the range
    condition + watermarks Spark would have to buffer both streams
    forever.  Inner-join results emit as soon as they match (only OUTER
    stream-stream joins are withheld until the watermark passes), so a
    bounded replay drains completely under ``processAllAvailable``.
    """
    from pyspark.sql import functions as F

    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} <= l.{left_ts} "
        f"AND r.{right_ts} >= l.{left_ts} - INTERVAL {lookback}"
    )
    return l_wm.alias("l").join(r_wm.alias("r"), cond, "inner")

