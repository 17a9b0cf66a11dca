"""The reference's poll-loop workers as Structured Streaming queries.

Reference shape (A21, SURVEY.md §3.4): ``Effect.loop`` — pop one pending
row, process, write status back, sleep 3 s (locator.ts:166-178).  Spark
shape: the queue table is a streaming source drained by
``bounded.drain`` (a deployment would keep the same writer running on a
processing-time trigger in place of the sleep), and ``foreachBatch``
applies the same batch stage function to each micro-batch with an
idempotent merge write-back.  The workflow-state database collapses into the streaming
checkpoint (exactly-once per epoch via idempotent MERGE on the unique
key — A25's idempotency-key semantics).

Retry/timeout policy (A22/A23) wraps the batch function body — driver-side
engine code, deliberately not a Catalyst concern (SURVEY.md §4).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .bounded import drain


def retry_with_backoff(fn: Callable, retries: int = 3, base_delay: float = 0.1, cap: float = 30.0):
    """Exponential backoff ∩ recurs(n) (A22 — Schedule.exponential,
    locator.ts:76-79, extractGooglePlaces.ts:31-45)."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            if attempt >= retries:
                raise
            time.sleep(min(base_delay * (2**attempt), cap))
            attempt += 1


def run_queue_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Drain a queue directory through ``batch_fn`` (micro-batch driver).

    ``batch_fn(batch_df, epoch_id)`` receives each file-arrival batch —
    the streaming equivalent of one poll iteration, except it sees the
    whole pending set.
    """
    drain(
        spark,
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir),
        "queue_poll",
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state (charter §2.C).

    ``dropDuplicatesWithinWatermark`` keeps state only inside the
    watermark horizon — the scale-safe variant of global
    ``dropDuplicates`` for unbounded streams.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
