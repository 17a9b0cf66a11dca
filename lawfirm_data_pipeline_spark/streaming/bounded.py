"""The one bounded-stream driver: every streaming query in the package
starts, drains and stops through :func:`drain`.

A bounded stream here is a real ``readStream`` over input that is all
present at start (a replayed file directory, a paged Python source):
drain it, record its plan, stop it.  The reference's poll-loop workers
(A21) run this way in tests and in the oracle; an unbounded deployment
would start the same writer with a processing-time trigger and keep it
running.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from .plan_capture import capture

# Every bounded stream in the package moves a few thousand rows at most,
# but each micro-batch pays one state-store commit per shuffle partition
# (an interval join pays four: two sides times two index stores), and
# the session default is the core count.  Results do not depend on the
# partition count; a deployment sizes it to state volume instead.
_SHUFFLE_PARTITIONS = "4"


def drain(spark: SparkSession, writer: DataStreamWriter, label: str) -> StreamingQuery:
    """Start ``writer``, process everything available, record the plan
    under ``label`` and stop; returns the stopped query, whose
    ``recentProgress`` is still readable.

    ``spark.sql.shuffle.partitions`` is scoped to one constant across
    start AND drain: a stateful plan bakes the count in at start, and a
    ``foreachBatch`` body that uses the outer session plans its batch
    jobs while the stream runs.

    Trigger: the default one, drained with ``processAllAvailable``.
    ``trigger(availableNow=True)`` is not equivalent: q242's
    ``SimpleDataSourceStreamReader`` (``sources/pydatasource.py``) ends
    an available-now run after its first prefetched ``read()``, so it
    returns fewer pages than the source holds.  ``maxFilesPerTrigger``
    still splits a file source into one micro-batch per file under the
    default trigger (q277, q283).

    Partitions: one constant for every stream, not a per-query knob;
    every streaming registry query is hash-identical at 4.

    The plan is captured after the drain and before ``stop()``, which
    drops the last incremental execution (``plan_capture``).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _SHUFFLE_PARTITIONS)
    try:
        q = writer.start()
        try:
            q.processAllAvailable()
            capture(q, label)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q


def run_stream_to_table(
    spark: SparkSession,
    source_df_stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    table_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain ``transform(source_df_stream)`` into a memory sink and return
    its rows as a DataFrame; the batch twin of the same transform is
    what the oracle compares against.

    The sink's view gets a unique name and is dropped before returning:
    the returned DataFrame is already analyzed, so it reads the sink's
    rows without the view, and the caller leaves nothing registered.
    """
    name = f"{table_name}_{uuid.uuid4().hex[:8]}"
    drain(
        spark,
        transform(source_df_stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name),
        table_name,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
