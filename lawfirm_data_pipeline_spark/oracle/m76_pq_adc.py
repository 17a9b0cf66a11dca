"""M76 — round-4 wave 16: PQ asymmetric-distance search, fully
value-gated.

q263 completes q261's codes into the actual search path: per query a
16-entry lookup table per subspace, per candidate 8 table-lookup adds
— the billion-vector scan kernel.  Because codebook, codes, and LUTs
are all exact int64 micro-fp derivations, the ADC ranking itself is
deterministic and the oracle re-derives the ENTIRE top-k — a stronger
gate than the recall bounds approximate float paths need (q38/q69b).

Registered after m75 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..operators.similarity import pq_adc_topk
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql


@query(
    "q263_pq_adc_topk",
    f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST({bfround_sql('CAST(x AS DOUBLE) * 1000000', 0)}
                                    AS BIGINT)) AS fp
               FROM embeddings),
         seeds AS (SELECT vec_id AS c, fp FROM v WHERE vec_id < 16),
         qs AS (SELECT vec_id AS query_id, fp AS qfp FROM v WHERE vec_id < 8),
         sub AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
         assign AS (
            SELECT a.vec_id, sub.s, seeds.c,
                   list_sum(list_transform(generate_series(1, 8),
                       i -> (a.fp[sub.s * 8 + i] - seeds.fp[sub.s * 8 + i])
                            * (a.fp[sub.s * 8 + i] - seeds.fp[sub.s * 8 + i])))
                     AS d,
                   row_number() OVER (PARTITION BY a.vec_id, sub.s
                                      ORDER BY list_sum(list_transform(
                                          generate_series(1, 8),
                                          i -> (a.fp[sub.s * 8 + i]
                                                - seeds.fp[sub.s * 8 + i])
                                               * (a.fp[sub.s * 8 + i]
                                                  - seeds.fp[sub.s * 8 + i]))),
                                               seeds.c) AS rn
            FROM v a, sub, seeds
         ),
         codes AS (SELECT vec_id, s, c FROM assign WHERE rn = 1),
         lut AS (
            SELECT qs.query_id, sub.s, seeds.c,
                   list_sum(list_transform(generate_series(1, 8),
                       i -> (qs.qfp[sub.s * 8 + i] - seeds.fp[sub.s * 8 + i])
                            * (qs.qfp[sub.s * 8 + i]
                               - seeds.fp[sub.s * 8 + i]))) AS ld
            FROM qs, sub, seeds
         ),
         adc AS (
            SELECT l.query_id, codes.vec_id,
                   CAST(sum(l.ld) AS BIGINT) AS adc_micro2
            FROM codes JOIN lut l ON l.s = codes.s AND l.c = codes.c
            GROUP BY 1, 2
         ),
         ranked AS (
            SELECT query_id, vec_id, adc_micro2,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_micro2, vec_id) AS rank
            FROM adc WHERE vec_id != query_id
         )
    SELECT query_id, vec_id, adc_micro2, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q263_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 per query over the PQ-coded corpus: the engine scans
    8-byte codes with 8 LUT adds per candidate (one Arrow kernel for
    all queries), the oracle re-derives codebook → codes → LUTs → the
    exact same integer ranking — the whole search path under one value
    hash (operators/similarity.pq_adc_topk)."""
    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"))
