"""Shared oracle-SQL fragments (no registrations — import-order neutral).

Cross-module helpers live here, NOT in a registering module: importing a
sibling m*-module for a helper would transitively register its queries
ahead of their intended rotation slot (the r2→r3 window audit caught
m12→m6_dedup doing exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

N_PLANTED_DOCS = 150  # bounded subset: pairwise stages stay cheap at any sf

# planted-corpus derivation (shared Spark/DuckDB): originals + first-token-
# dropped copies of every 10th doc, + exact copies of every 25th doc
PLANTED_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents WHERE doc_id < {N_PLANTED_DOCS}
    UNION ALL
    SELECT doc_id + 100000, regexp_replace(text, '^\\S+\\s+', '')
    FROM documents WHERE doc_id < {N_PLANTED_DOCS} AND doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000, text
    FROM documents WHERE doc_id < {N_PLANTED_DOCS} AND doc_id % 25 = 0
"""

LTOKS_SQL = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"
SHINGLES_SQL = (
    "list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    " i -> array_to_string(toks[i:i+2], ' '))"
)


def planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < N_PLANTED_DOCS)
    near = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
        )
    )
    exact = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(near).unionByName(exact)

def planted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q32 pair list, which q71 clusters: ngram_jaccard_pairs over
    the planted corpus at threshold 0.5, n=3, df_cap=64."""
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(planted_corpus(spark, sf_dir), threshold=0.5, n=3, df_cap=64)


_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

# planted perturbed embedding copies (vec_id % 20 re-enters as +100000
# with +0.1 on the first 4 coordinates) — shared by q37/q225
PLANT_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + 100000,
           list_concat(list_transform((embedding::DOUBLE[])[1:4], x -> x + 0.1),
                       (embedding::DOUBLE[])[5:])
    FROM embeddings WHERE vec_id % 20 = 0
"""


def planted_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "v", F.transform("embedding", lambda x: x.cast("double"))
    )
    base = emb.filter(F.col("vec_id") % 4 == 0).select("vec_id", "v")
    perturbed = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.transform(F.slice("v", 1, 4), lambda x: x + 0.1),
            F.slice(F.col("v"), 5, 10**6),
        ).alias("v"),
    )
    return base.unionByName(perturbed)

# Brute-force cosine top-10 over embeddings for the 8 fixed queries —
# the oracle for every exhaustive-mode ANN gate (q38b, q69): identical
# derivation to q36 at k=10.
BRUTE_FORCE_TOP10_SQL = f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
         scored AS (
            SELECT q.query_id, c.vec_id,
                   {_COS.format(a='q.qv', b='c.v')} AS score
            FROM c CROSS JOIN q WHERE c.vec_id != q.query_id
         ),
         ranked AS (
            SELECT query_id, vec_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rank
            FROM scored
         )
    SELECT query_id, vec_id, {bfround_sql('score', 6)} AS score, rank
    FROM ranked WHERE rank <= 10
"""
