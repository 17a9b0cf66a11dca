"""M24 — deterministic training order + PCA spectrum audit (round 3,
final wave).

q124 generates one epoch's training order: shard + intra-shard
position, both pure functions of (epoch, doc_id) — no global sort, no
RNG state, each epoch an independent permutation.  q125 closes the PCA
story opened by q108: driver-side eigendecomposition of the collected
d×d covariance (O(d²) scalars — the one place driver math is right),
gated by an exactly-SQL-reproducible trace plus eigen-consistency
verdict booleans.

Registered after m23 — outside round 3's 50-query window; rotation:
m18-m24 register first in round 4 (see oracle/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.sampling import epoch_shuffle
from ..operators.stats import pca_explained_variance
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql


# -- q124: deterministic per-epoch training order
@query(
    "q124_epoch_shuffle",
    """
    WITH h AS (SELECT doc_id,
                      md5('epoch7|' || CAST(doc_id AS VARCHAR)) AS hh
               FROM documents),
         s AS (SELECT doc_id, hh,
                      ('0x' || substring(hh, 1, 8))::BIGINT % 8 AS shard
               FROM h)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM s
    """,
)
def q124_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-7 training order: md5 shard + intra-shard hash rank.  The
    window partitions by shard, so no single partition ever sorts the
    corpus — training needs per-shard order, not a total order
    (operators/sampling.epoch_shuffle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = epoch_shuffle(docs, epoch=7, n_shards=8, key="doc_id")
    return out.select("doc_id", "shard", F.col("pos").cast("long").alias("pos"))


# -- q125: PCA explained-variance audit over q108's covariance
@query(
    "q125_pca_audit",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         u AS (SELECT vec_id, i - 1 AS pos,
                      CAST({bfround_sql('v[i] * 1e6', 0)} AS BIGINT) AS x
               FROM e, unnest(generate_series(1, 64)) AS t(i)),
         m AS (SELECT pos, sum(x) AS s, sum(x * x) AS sxx, count(*) AS n
               FROM u GROUP BY pos),
         d AS (SELECT pos,
                      {bfround_sql('''CAST(sxx AS DOUBLE) / 1e12 / n
                            - (CAST(s AS DOUBLE) / 1e6 / n)
                            * (CAST(s AS DOUBLE) / 1e6 / n)''', 6)} + 0.0 AS var
               FROM m)
    SELECT 64 AS n_components,
           {bfround_sql(f'CAST(sum(CAST({bfround_sql("var * 1e6", 0)} AS BIGINT)) AS DOUBLE) / 1e6', 4)}
               AS trace,
           TRUE AS trace_matches_eigsum,
           TRUE AS ratios_in_bounds,
           TRUE AS ratios_sum_ok
    FROM d
    """,
)
def q125_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The covariance trace is exactly SQL-reproducible (fixed-point
    per-dimension variances, the q108 diagonal); the eigenvalue facts
    SQL cannot compute gate as verdict booleans — trace == sum(eig) is
    the eigendecomposition's own consistency identity
    (operators/stats.pca_explained_variance)."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return pca_explained_variance(emb, dim=64)
