"""M75 — round-4 wave 15: product quantization + schema-merge reads.

q261 adds the ANN compression standard — PQ code assignment — in the
repo's exact-integer discipline (the codebook is oracle-derivable, so
DuckDB re-derives every code and reconstruction error).  q262 gates
``mergeSchema`` reads over parquet files written with EVOLVED schemas
— the other half of schema evolution (q176 migrates writes; this
reads heterogeneous history in place).

Registered after m74 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.similarity import pq_codes
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q261: PQ code assignment (8 subspaces x 16 centroids, exact)
@query(
    "q261_pq_codes",
    f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST({bfround_sql('CAST(x AS DOUBLE) * 1000000', 0)}
                                    AS BIGINT)) AS fp
               FROM embeddings),
         seeds AS (SELECT vec_id AS c, fp FROM v WHERE vec_id < 16),
         sub AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
         pairs AS (
            SELECT a.vec_id, sub.s, seeds.c,
                   list_sum(list_transform(generate_series(1, 8),
                       i -> (a.fp[sub.s * 8 + i] - seeds.fp[sub.s * 8 + i])
                            * (a.fp[sub.s * 8 + i] - seeds.fp[sub.s * 8 + i])))
                     AS d
            FROM v a, sub, seeds
         ),
         ranked AS (
            SELECT vec_id, s, c, d,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, c) AS rn
            FROM pairs
         ),
         best AS (SELECT vec_id, s, c, d FROM ranked WHERE rn = 1)
    SELECT vec_id,
           string_agg(CAST(c AS VARCHAR), '-' ORDER BY s) AS code_str,
           CAST(sum(d) AS BIGINT) AS err_micro2
    FROM best GROUP BY vec_id
    """,
)
def q261_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code words + reconstruction error for every vector: 8
    subspaces, 16 seed centroids, exact integer micro-fp distances —
    one codegen projection per row with the codebook as plan literals;
    the oracle re-derives every code from the same seed rule
    (operators/similarity.pq_codes)."""
    return pq_codes(load_table(spark, sf_dir, "embeddings"))


# -- q262: mergeSchema read over evolved parquet history
@query(
    "q262_schema_merge_read",
    f"""
    WITH old AS (SELECT o_orderkey,
                        CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents,
                        NULL AS channel
                 FROM orders WHERE o_orderkey % 2 = 0),
         new AS (SELECT o_orderkey,
                        CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents,
                        'web-' || (o_orderkey % 3) AS channel
                 FROM orders WHERE o_orderkey % 2 = 1),
         u AS (SELECT * FROM old UNION ALL SELECT * FROM new)
    SELECT coalesce(channel, '<pre-schema>') AS channel,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM u GROUP BY 1
    """,
)
def q262_schema_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two parquet generations — the old files lack the ``channel``
    column the new files carry — read together with ``mergeSchema``:
    old rows surface NULL for the new column and every byte of both
    generations lands in the unified aggregate.  This is the read-side
    half of schema evolution (q176 is the write side): history never
    needs rewriting to be queryable."""
    with tempfile.TemporaryDirectory(prefix="q262_", ignore_cleanup_errors=True) as scratch:
        orders = load_table(spark, sf_dir, "orders")
        cents = bfround(F.col("o_totalprice") * 100).cast("long")
        old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", cents.alias("cents")
        )
        new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            cents.alias("cents"),
            F.concat(F.lit("web-"), F.col("o_orderkey") % 3).alias("channel"),
        )
        old.write.parquet(os.path.join(scratch, "g=0"))
        new.write.parquet(os.path.join(scratch, "g=1"))
        merged = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(scratch, "g=0"), os.path.join(scratch, "g=1")
        )
        out = (
            merged.groupBy(
                F.coalesce("channel", F.lit("<pre-schema>")).alias("channel")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("cents"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
