"""M83 — round-5 wave 4: Matryoshka-truncation retrieval audit.

MRL-style embedding models (Kusupati et al., NeurIPS'22) are trained
so a PREFIX of the vector is itself a usable embedding; serving at a
truncated dimension cuts index cost d_full/d_trunc-fold IF retrieval
survives.  q272 measures exactly that decision input on the real
embeddings table: exact top-10 by full-dimension L2 vs top-10 by
16-of-64-prefix L2, overlap@10 per query — all in int64 micro
fixed-point, so the oracle re-derives both rankings and the overlap
count exactly (the q263 ADC discipline applied to the truncation
question).

Scale: both rankings ride the broadcast-query exact scorer shape
(bounded query side crossed against the corpus scan, TakeOrdered
heap); at billion-vector scale each side swaps to its IVF/PQ variant
and this audit runs on a sampled query set unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_FP = 1_000_000
_K = 10
_NQ = 8
_D_TRUNC = 16

_RANK_SQL = """
        SELECT q.vec_id AS query_id, v.vec_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_sum(list_transform(
                       generate_series(1, {d}),
                       i -> (q.fp[i] - v.fp[i]) * (q.fp[i] - v.fp[i]))),
                   v.vec_id) AS rank
        FROM qs q, vecs v
        WHERE v.vec_id <> q.vec_id
"""


@query(
    "q272_matryoshka_audit",
    f"""
    WITH vecs AS (SELECT vec_id,
                         list_transform(embedding,
                             x -> CAST({bfround_sql(f'CAST(x AS DOUBLE) * {_FP}', 0)}
                                       AS BIGINT)) AS fp
                  FROM embeddings),
         qs AS (SELECT * FROM vecs WHERE vec_id < {_NQ}),
         full_rank AS ({_RANK_SQL.format(d=64)}),
         trunc_rank AS ({_RANK_SQL.format(d=_D_TRUNC)}),
         f10 AS (SELECT query_id, vec_id FROM full_rank WHERE rank <= {_K}),
         t10 AS (SELECT query_id, vec_id FROM trunc_rank WHERE rank <= {_K})
    SELECT f10.query_id,
           CAST({_K} AS BIGINT) AS k,
           CAST(count(t10.vec_id) AS BIGINT) AS n_common
    FROM f10 LEFT JOIN t10
      ON t10.query_id = f10.query_id AND t10.vec_id = f10.vec_id
    GROUP BY f10.query_id
    """,
)
def q272_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query: |top-10 by full-d L2 ∩ top-10 by 16-d-prefix L2|.
    Both rankings are exact integer micro-fp distances with vec_id
    tie-break, so the overlap is deterministic and fully value-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: bfround(x * _FP).cast("long"),
        ).alias("fp"),
    )
    qs = vecs.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("fp").alias("qfp")
    )

    def dist(d: int):
        return F.aggregate(
            F.zip_with(
                F.slice("fp", 1, d),
                F.slice("qfp", 1, d),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # ONE candidate pass: both distances from the same joined row, both
    # rankings as two window sorts over the SAME query_id partitioning
    # (one exchange), and the overlap is "both ranks <= K" — no second
    # corpus scan and no top-10 x top-10 self-join (round-6 census: the
    # per-width topk form scanned embeddings 4x).
    scored = (
        vecs.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d_full", dist(64))
        .withColumn("d_trunc", dist(_D_TRUNC))
    )
    wq = Window.partitionBy("query_id")
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wq.orderBy("d_full", "vec_id")).alias("r_full"),
        F.row_number().over(wq.orderBy("d_trunc", "vec_id")).alias("r_trunc"),
    )
    return (
        ranked.filter(F.col("r_full") <= _K)
        .groupBy("query_id")
        .agg(
            F.lit(_K).cast("long").alias("k"),
            F.sum((F.col("r_trunc") <= _K).cast("int")).cast("long").alias("n_common"),
        )
    )
