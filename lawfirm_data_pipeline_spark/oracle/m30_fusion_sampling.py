"""M30 — retrieval fusion, negative sampling, tokenizer induction
(round 3, thirteenth wave).

q145 fuses two retrievers (cosine and inner product) with reciprocal
rank fusion — integer ranks make the fused ordering hash-stable where
raw-float fusion would not be; q146 draws deterministic contrastive
negatives via a hash-bucket equi-join (never a users x items cross
join); q147 is the first BPE merge step: corpus-weighted adjacent
character-pair frequencies over the distinct-word dictionary.

Registered after m29 — outside round 3's 50-query window; round-4
rotation: m18-m30 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.sampling import hash_bucket_negatives
from ..operators.similarity import rrf_fusion
from ..operators.text import bpe_first_merges
from ..queries import query
from ._shared import _COS, LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql


# -- q145: reciprocal rank fusion of cosine + inner-product retrievers
@query(
    "q145_rank_fusion",
    f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 2),
         scored AS (SELECT q.query_id, c.vec_id,
                           {_COS.format(a='q.qv', b='c.v')} AS cs,
                           list_dot_product(q.qv, c.v) AS ip
                    FROM c CROSS JOIN q WHERE c.vec_id != q.query_id),
         ranked AS (SELECT query_id, vec_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cs DESC, vec_id) AS rc,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY ip DESC, vec_id) AS ri
                    FROM scored),
         fused AS (SELECT query_id, vec_id,
                          (CASE WHEN rc <= 100 THEN 1.0 / (60 + rc) ELSE 0.0 END)
                          + (CASE WHEN ri <= 100 THEN 1.0 / (60 + ri) ELSE 0.0 END)
                            AS rrf_raw
                   FROM ranked WHERE rc <= 100 OR ri <= 100),
         top AS (SELECT query_id, vec_id, rrf_raw,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY rrf_raw DESC, vec_id)
                          AS fused_rank
                 FROM fused)
    SELECT query_id, vec_id, {bfround_sql('rrf_raw', 6)} AS rrf,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM top WHERE fused_rank <= 10
    """,
)
def q145_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF over top-100 candidate lists from two retrievers sharing one
    broadcast-join scoring scan; 1/(60+rank) sums of small-integer
    ranks are engine-identical doubles, so even the fused ORDER is
    hash-gated (operators/similarity.rrf_fusion)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return rrf_fusion(emb, emb.filter(F.col("vec_id") < 2))


# -- q146: hash-bucket deterministic negative sampling
@query(
    "q146_negative_samples",
    """
    WITH pos AS (SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
                 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         nb AS (SELECT greatest(100, CAST(floor(count(*) / 20.0) AS BIGINT)) AS n
                FROM (SELECT DISTINCT p_partkey FROM part)),
         u AS (SELECT DISTINCT user_id, user_id % nb.n AS bkt FROM pos, nb),
         it AS (SELECT DISTINCT p_partkey AS item_id, p_partkey % nb.n AS bkt
                FROM part, nb),
         cand AS (SELECT u.user_id, it.item_id
                  FROM u JOIN it USING (bkt)
                  WHERE NOT EXISTS (SELECT 1 FROM pos
                                    WHERE pos.user_id = u.user_id
                                      AND pos.item_id = it.item_id)),
         ranked AS (SELECT user_id, item_id,
                           CAST(row_number() OVER (
                               PARTITION BY user_id
                               ORDER BY md5(CAST(user_id AS VARCHAR) || ':'
                                            || CAST(item_id AS VARCHAR)),
                                        item_id) AS BIGINT) AS rnk
                    FROM cand)
    SELECT user_id, item_id, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q146_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five deterministic negatives per purchasing customer from the
    customer's hash bucket of the part catalog: bucket EQUI-join (not a
    cross join), positives anti-joined out before ranking, md5 order
    reproducible across engines
    (operators/sampling.hash_bucket_negatives)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pos = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .distinct()
    )
    return hash_bucket_negatives(
        pos, part.select(F.col("p_partkey").alias("item_id")), k=5
    )


# -- q147: first-iteration BPE merge candidates
@query(
    "q147_bpe_merges",
    f"""
    WITH words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
                   FROM (SELECT unnest({_LTOKS}) AS w FROM documents)
                   GROUP BY w HAVING length(w) >= 2),
         pairs AS (SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                                                i -> w[i:i+1])) AS pair,
                          freq
                   FROM words)
    SELECT pair, CAST(sum(freq) AS BIGINT) AS weight
    FROM pairs GROUP BY pair
    ORDER BY weight DESC, pair
    LIMIT 20
    """,
)
def q147_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs by corpus-weighted frequency —
    BPE's first merge decision.  Pair expansion runs on the distinct-
    word dictionary (vocabulary-bounded); top-N is a per-partition heap
    (TakeOrderedAndProject), deterministic under the (weight, pair)
    total order (operators/text.bpe_first_merges)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_first_merges(docs, top_n=20)
