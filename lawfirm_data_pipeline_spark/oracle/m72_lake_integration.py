"""M72 — round-4 wave 12: lake/streaming integration — dynamic
partition overwrite + exactly-once streaming sink through the
transactional catalog.

q256 is the backfill primitive: overwrite ONE day of a
day-partitioned table (dynamic partition overwrite) and prove every
other day's bytes are untouched.  q257 closes the streaming→lake
loop: a real stream drains through ``foreachBatch`` into the m61
Catalog with batch-id idempotence recorded IN the same transaction —
then one batch is deliberately REPLAYED, and the totals must still
equal a single batch pass (the at-least-once → exactly-once upgrade
every production sink needs).

Registered after m71 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ..sources.lake import Catalog
from ..streaming.bounded import drain
from ..streaming.catalog_sink import exactly_once_totals_sink
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_BACKFILL_DAY = "2024-01-15"


# -- q256: dynamic partition overwrite (single-day backfill)
@query(
    "q256_dynamic_partition_overwrite",
    f"""
    WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                                = DATE '{_BACKFILL_DAY}'
                           THEN 2 * CAST({bfround_sql('value * 100', 0)} AS BIGINT)
                           ELSE CAST({bfround_sql('value * 100', 0)} AS BIGINT)
                      END AS cents
               FROM events WHERE user_id % 5 = 0)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM e GROUP BY 1
    """,
)
def q256_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a day-partitioned table, then backfill ONE day (cents
    doubled) with dynamic partition overwrite — only that day's
    directory is rewritten; the per-day readback must show every other
    day byte-identical to the original and the backfilled day changed.
    This is the idempotent-backfill primitive every scheduled pipeline
    re-run depends on."""
    with tempfile.TemporaryDirectory(prefix="q256_", ignore_cleanup_errors=True) as scratch:
        table = os.path.join(scratch, "t")
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") % 5 == 0)
            .select(
                F.to_date(F.date_trunc("day", "ts")).alias("day"),
                bfround(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        ev.write.partitionBy("day").parquet(table)
        backfill = ev.filter(F.col("day") == _BACKFILL_DAY).select(
            "day", (F.col("cents") * 2).alias("cents")
        )
        (
            backfill.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(table)
        )
        out = (
            spark.read.parquet(table)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("cents"),
            )
            .select(F.col("day").cast("string").alias("day"), "n", "cents")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# -- q257: exactly-once streaming sink through the catalog (+ replay)
@query(
    "q257_stream_catalog_sink",
    f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events WHERE user_id % 11 = 0
    GROUP BY 1
    """,
)
def q257_stream_catalog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real stream drains through foreachBatch into the Catalog; the
    batch id commits ATOMICALLY with the totals (streaming/
    catalog_sink), then the LAST batch is deliberately replayed — the
    idempotence path must skip it, so the final totals equal one batch
    pass exactly.  Double-counting (replay applied) or data loss
    (batch skipped) both flip the hash."""
    from ..io import load_events_stream

    with tempfile.TemporaryDirectory(prefix="q257_", ignore_cleanup_errors=True) as scratch:
        cat = Catalog(scratch)
        sink = exactly_once_totals_sink(spark, cat)
        seen: list = []

        def tracking_sink(df: DataFrame, bid: int) -> None:
            seen.append((df, bid))
            sink(df, bid)

        stream = (
            load_events_stream(spark, sf_dir)
            .filter(F.col("user_id") % 11 == 0)
            .select(
                "user_id", bfround(F.col("value") * 100).cast("long").alias("cents")
            )
        )
        drain(
            spark,
            stream.writeStream.foreachBatch(tracking_sink).option(
                "checkpointLocation", os.path.join(scratch, "ckpt")
            ),
            "exactly_once_totals",
        )
        # simulate an at-least-once redelivery of the final micro-batch
        if seen:
            df, bid = seen[-1]
            sink(df, bid)
        out = cat.read(spark, "totals")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
