"""Streaming tests (SURVEY.md §5.5): file-replayed streams, watermark
late-data behavior, and the queue poller as a foreachBatch stream."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark import schemas
from lawfirm_data_pipeline_spark.streaming.bounded import run_stream_to_table
from lawfirm_data_pipeline_spark.streaming.queue import (
    retry_with_backoff,
    run_queue_stream,
)
from lawfirm_data_pipeline_spark.streaming.windows import tumbling_counts

SF = "/root/testdata/sf0.001"


def test_stream_matches_batch(spark):
    from lawfirm_data_pipeline_spark.io import load_events_stream, load_table

    stream = load_events_stream(spark, SF)
    streamed = run_stream_to_table(
        spark, stream, lambda df: tumbling_counts(df, "6 hours", "1 hour"),
        "t_tumbling", output_mode="complete",
    )
    batch = tumbling_counts(load_table(spark, SF, "events"), "6 hours", "1 hour")
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two files arriving in order: watermark advanced by batch 1 must
    drop batch 2's too-late rows in append mode."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(path, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        # single FILE (not a Spark output dir) — the file stream source
        # lists plain files only
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), path)

    write_file(f"{src}/f1.parquet", [(1, "2024-01-05 12:00:00", 1, "click", 1.0, None)])
    q = (
        spark.readStream.schema(schemas.EVENTS)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()
        write_file(
            f"{src}/f2.parquet",
            [
                (2, "2024-01-01 00:00:00", 1, "click", 1.0, None),  # days late → dropped
                (3, "2024-01-05 13:00:00", 1, "click", 1.0, None),  # fresh → kept
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_id for r in spark.table("t_late").collect()}
    # event 1 emitted; 2 is behind the watermark (dropped); 3 is a duplicate
    # of key (1, click) arriving within state horizon... after event 1's
    # state expired at watermark 12:50 the 13:00 row re-emits.
    assert 1 in got and 2 not in got


def test_queue_stream_foreachbatch(spark, tmp_path):
    """Queue table streamed through the locate stage body: statuses write
    back idempotently per epoch (A21/A25)."""
    from lawfirm_data_pipeline_spark.pipeline.generate import gen_google_place_urls

    src = str(tmp_path / "queue")
    sink = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(sink)
    gen_google_place_urls(spark, 50).write.parquet(src, mode="overwrite")

    seen = []

    def batch_fn(batch_df, epoch_id):
        pending = batch_df.filter(F.col("status").isNull())
        done = pending.withColumn("status", F.lit(True))
        # idempotent merge-on-key write-back → parquet state dir per epoch
        done.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")
        seen.append((epoch_id, pending.count()))

    run_queue_stream(spark, src, schemas.GOOGLE_PLACE_URL_TO_SCRAPE, batch_fn, ckpt)
    assert seen and sum(n for _, n in seen) == 25  # half of 50 are pending (id%10<5)
    out = spark.read.parquet(f"{sink}/epoch=*")
    assert out.filter(F.col("status") != True).count() == 0  # noqa: E712


def test_retry_with_backoff():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert retry_with_backoff(flaky, retries=5, base_delay=0.001) == "ok"
    assert len(calls) == 3
    with pytest.raises(RuntimeError):
        retry_with_backoff(lambda: (_ for _ in ()).throw(RuntimeError("hard")), retries=1, base_delay=0.001)


def test_streaming_harnesses_capture_executed_plans(spark):
    """r6 verdict #6: the plan-lint census was blind to streaming
    queries.  Every harness now records the last trigger's executed
    plan via streaming.plan_capture, so the census can audit streams
    post-run.  Drive one real memory-sink stream and assert a plan
    (with the streaming state operator in it) plus lastProgress landed
    in the buffer."""
    from lawfirm_data_pipeline_spark.queries import QUERIES
    from lawfirm_data_pipeline_spark.streaming import plan_capture

    plan_capture.drain()
    QUERIES["q22_stream_tumbling_window"](spark, SF).collect()
    captured = plan_capture.drain()
    assert captured, "stream ran but captured no executed plan"
    label, plan, progress = captured[0]
    assert "StateStore" in plan or "HashAggregate" in plan, plan[:500]
    assert progress is None or "batchId" in progress
    # drained: a second drain is empty (census isolation between queries)
    assert plan_capture.drain() == []


def test_plan_capture_buffer_is_capped():
    """r7 ADVICE: _CAPTURED is process-global and only plan_lint drains
    it, so a full bench sweep (every streaming harness, no census)
    would grow it unboundedly.  The buffer keeps only the newest
    _MAX_CAPTURED entries; a census drain right after each query never
    comes close to the cap, so nothing a census wants is evicted."""
    from lawfirm_data_pipeline_spark.streaming import plan_capture

    class _FakeJsq:
        def explainInternal(self, extended):
            return "== Physical Plan == fake"

    class _FakeQuery:
        _jsq = _FakeJsq()
        lastProgress = None

    plan_capture.drain()
    n = plan_capture._MAX_CAPTURED
    for i in range(n + 25):
        plan_capture.capture(_FakeQuery(), f"s{i}")
    got = plan_capture.drain()
    assert len(got) == n
    # newest survive, oldest evicted
    assert got[0][0] == "s25" and got[-1][0] == f"s{n + 24}"
