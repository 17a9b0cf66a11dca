"""M86 — round-5 wave 7: streaming backpressure + the grouped-map
Arrow surface.

q277 pins ``maxFilesPerTrigger`` — the file-source backpressure knob a
production stream lives or dies by: the source is laid out as exactly
4 files, the stream is rate-limited to 1 file per micro-batch, and the
query gates BOTH that exactly 4 micro-batches ran AND that the
per-batch partial aggregates compose to the global answer (incremental
aggregation over an arbitrary file split is the property that makes
rate limiting safe).

q278 value-gates ``groupBy().applyInPandas`` (the grouped-map Arrow
surface — q100/q244 cover mapInPandas, q110 covers
applyInPandasWithState; this is the remaining Pandas API leg): a
per-user OLS slope where the kernel accumulates the five co-moments as
EXACT Python integers (minute grid × cents grid) and only the final
slope division is floating point — the same expression the oracle
computes, so the Arrow boundary is hash-gated with no tolerance.
"""

from __future__ import annotations

import os
import tempfile
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ..streaming.bounded import drain
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q277_stream_backpressure",
    f"""
    WITH e AS (
        SELECT event_type,
               CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
        FROM events WHERE user_id % 13 = 0
    )
    SELECT 'batches_match_files' AS metric, CAST(1 AS BIGINT) AS n
    UNION ALL
    SELECT 'multi_batch', CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'rows_' || event_type, CAST(count(*) AS BIGINT) FROM e GROUP BY 1
    UNION ALL
    SELECT 'cents_' || event_type, CAST(sum(cents) AS BIGINT) FROM e GROUP BY 1
    """,
)
def q277_stream_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lay the filtered events out as ~4 parquet files, stream them
    back with maxFilesPerTrigger=1, and fold the per-batch partial
    (event_type → rows, cents) aggregates on the driver.  The fold must
    equal the one-shot batch aggregate; the backpressure gate is
    one-micro-batch-per-OBSERVED-part-file (plus "actually split",
    i.e. >=2 batches) rather than a literal 4 — how many files
    repartition(4).write emits and whether empty batches trigger are
    writer/committer details a Spark upgrade may change (r5 ADVICE)."""
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 13 == 0)
        .select(
            "event_type", bfround(F.col("value") * 100).cast("long").alias("cents")
        )
    )
    with tempfile.TemporaryDirectory(prefix="q277_", ignore_cleanup_errors=True) as scratch:
        src_dir = os.path.join(scratch, "src")
        src.repartition(4).write.parquet(src_dir)
        stream = (
            spark.readStream.schema("event_type string, cents long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        partials: list[list] = []

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            partials.append(
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("rows"),
                    F.sum("cents").cast("long").alias("cents"),
                )
                .collect()
            )

        drain(
            spark,
            stream.writeStream.foreachBatch(sink).option(
                "checkpointLocation", os.path.join(scratch, "ckpt")
            ),
            "backpressure",
        )
        n_files = sum(
            1
            for f in os.listdir(src_dir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        folded: dict[str, list[int]] = {}
        for batch in partials:
            for r in batch:
                acc = folded.setdefault(r["event_type"], [0, 0])
                acc[0] += r["rows"]
                acc[1] += r["cents"]
        rows = [
            ("batches_match_files", int(len(partials) == n_files)),
            ("multi_batch", int(len(partials) >= 2)),
        ]
        for et, (n, cents) in folded.items():
            rows.append((f"rows_{et}", n))
            rows.append((f"cents_{et}", cents))
        return spark.createDataFrame(rows, "metric string, n long")


_OLS_SQL_TERMS = f"""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM (
            SELECT user_id,
                   CAST(floor(epoch(ts) / 60) AS BIGINT)
                     - 28401120 AS x,
                   CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS y
            -- sample = observed rows (r12 nulls axis): a NULL value
            -- has no y; count(*) must not mix denominators
            FROM events WHERE user_id % 29 = 0 AND value IS NOT NULL
        ) GROUP BY user_id
"""


@query(
    "q278_grouped_ols_slopes",
    f"""
    WITH terms AS ({_OLS_SQL_TERMS})
    SELECT user_id, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
    FROM terms WHERE n * sxx - sx * sx <> 0
    """,
)
def q278_grouped_ols_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value-vs-time OLS slope through groupBy().applyInPandas:
    the kernel sums the co-moments as exact Python ints on the minute ×
    cents grid (28401120 = minutes to 2024-01-01 — rebasing keeps
    (Σx)² inside int64); numerator and denominator each round to double
    once and divide once, bit-identical to DuckDB's CAST/CAST divide,
    so the grouped-map Arrow path is gated with zero tolerance."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 29 == 0)
        # sample = observed rows (mirrors the SQL twin's IS NOT NULL)
        .filter(F.col("value").isNotNull())
    )
    base = events.select(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / 60).cast("long") - F.lit(28401120)).alias(
            "x"
        ),
        bfround(F.col("value") * 100).cast("long").alias("y"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) for v in pdf["x"]]
        ys = [int(v) for v in pdf["y"]]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        den = n * sxx - sx * sx
        if den == 0:
            return pd.DataFrame(columns=["user_id", "n", "slope"])
        # float(int) then divide == DuckDB CAST(AS DOUBLE)/CAST(AS DOUBLE):
        # both operands round to double first, one IEEE division after --
        # bit-identical across engines with no tolerance needed
        slope = float(n * sxy - sx * sy) / float(den)
        return pd.DataFrame(
            {"user_id": [int(pdf["user_id"].iloc[0])], "n": [n], "slope": [slope]}
        )

    return base.groupBy("user_id").applyInPandas(
        kernel, "user_id long, n long, slope double"
    )
