"""M62 — round-4 wave 2: l-diversity, frame-embedding pooling,
hard-negative mining, and the end-to-end entity-resolution composite.

q228 complements q191's k-anonymity ladder with the sensitive-attribute
side (a k-anonymous group is still leaky if everyone in it shares one
sensitive value).  q229 is the frame→clip reduction of a multimodal
embedding pipeline.  q230 mines contrastive hard negatives.  q231
chains blocking→edit-distance verify→connected components→survivorship
into one ER pipeline — the transitive clustering (A~B, B~C ⇒ one
entity) that q205's normalized-key grouping cannot express.

Registered after m61 — outside the round-4 driver window; first driver
rows with the round-5 rotation.  Two-scale differential green at
registration; BASELINE.md rows added same-commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..operators.graph import connected_components
from ..operators.linkage import name_variant_pairs
from ..operators.multimodal import pool_frame_embeddings
from ..operators.similarity import hard_negative_topk
from ..queries import query
from ._shared import _COS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q228: l-diversity audit over (nation, segment) quasi-identifiers
@query(
    "q228_l_diversity",
    """
    WITH qi AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
                       CASE WHEN c_acctbal < 0 THEN 'neg'
                            WHEN c_acctbal < 5000 THEN 'mid'
                            ELSE 'high' END AS sens
                FROM customer),
         g AS (SELECT nat, seg, CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct
               FROM qi GROUP BY 1, 2)
    SELECT nat, seg, n_rows, l_distinct, l_distinct >= 3 AS l_ok
    FROM g
    """,
)
def q228_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l diversity per quasi-identifier group (sensitive
    attribute = balance band): one combinable groupBy with a distinct
    count — the audit that catches the k-anonymous-but-homogeneous
    groups q191's size-only ladder passes.  [Machanavajjhala et al.,
    ICDE'06 "l-diversity"]."""
    cust = load_table(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    g = (
        cust.select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            sens.alias("sens"),
        )
        .groupBy("nat", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("sens").cast("long").alias("l_distinct"),
        )
    )
    return g.select("nat", "seg", "n_rows", "l_distinct", (F.col("l_distinct") >= 3).alias("l_ok"))


# -- q229: frame→clip embedding pooling (media = vec_id div 8)
@query(
    "q229_frame_pooling",
    f"""
    WITH f AS (SELECT vec_id // 8 AS media_id, embedding
               FROM embeddings WHERE vec_id // 8 < 200),
         u AS (SELECT media_id, i AS pos,
                      CAST({bfround_sql('CAST(embedding[i] AS DOUBLE) * 1000000', 0)}
                           AS BIGINT) AS micro
               FROM f, unnest(generate_series(1, len(embedding))) AS t(i))
    SELECT media_id, CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(micro) AS BIGINT) AS pooled_micro
    FROM u GROUP BY 1, 2
    """,
)
def q229_frame_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum-pool 8-frame groups of the embedding table into clip-level
    vectors in integer micro-units (exact, order-independent — the
    property a float mean-pool can never hash-gate); one posexplode +
    one combinable aggregation (operators/multimodal.
    pool_frame_embeddings)."""
    emb = load_table(spark, sf_dir, "embeddings")
    frames = emb.select(
        (F.col("vec_id") / 8).cast("long").alias("media_id"), "embedding"
    ).filter(F.col("media_id") < 200)
    return pool_frame_embeddings(frames)


# -- q230: contrastive hard-negative mining (top-5 cross-label cosine)
@query(
    "q230_hard_negatives",
    f"""
    WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
         scored AS (
            SELECT q.query_id, c.vec_id,
                   {_COS.format(a='q.qv', b='c.v')} AS score
            FROM c CROSS JOIN q WHERE c.label != q.qlabel
         ),
         ranked AS (
            SELECT query_id, vec_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rank
            FROM scored
         )
    SELECT query_id, vec_id, {bfround_sql('score', 6)} AS score, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q230_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 highest-cosine DIFFERENT-label neighbors per query — the
    boundary-adjacent negatives contrastive training wants; label
    mismatch rides the join condition so same-label rows never reach
    scoring (operators/similarity.hard_negative_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return hard_negative_topk(emb, queries, k=5)


# -- q231: entity resolution end to end (block → verify → CC → survive)
@query(
    "q231_er_clusters",
    f"""
    WITH RECURSIVE
         names AS (SELECT p_name AS name,
                          CAST(min(p_partkey) AS BIGINT) AS nid,
                          split_part(p_name, ' ', 2) AS blk
                   FROM part GROUP BY 1, 3),
         pairs AS (SELECT a.nid AS ia, b.nid AS ib
                   FROM names a JOIN names b
                     ON a.blk = b.blk AND a.name < b.name
                   WHERE levenshtein(a.name, b.name) <= 4),
         edges AS (SELECT ia AS a, ib AS b FROM pairs
                   UNION ALL SELECT ib, ia FROM pairs),
         reach(node, root) AS (
            SELECT nid, nid FROM names
            UNION
            SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
         ),
         lab AS (SELECT node AS nid, min(root) AS cluster_id
                 FROM reach GROUP BY 1),
         nl AS (SELECT n.name, l.cluster_id
                FROM names n JOIN lab l ON l.nid = n.nid),
         j AS (SELECT nl.cluster_id, p.p_name,
                      CAST({bfround_sql('p_retailprice * 100', 0)} AS BIGINT) AS cents
               FROM part p JOIN nl ON nl.name = p.p_name)
    SELECT min(p_name) AS canonical_name,
           CAST(count(DISTINCT p_name) AS BIGINT) AS n_names,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS retail_cents
    FROM j GROUP BY cluster_id
    """,
)
def q231_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ER pipeline: head-noun blocking + levenshtein verify on the
    distinct-name dictionary (q129's generator), min-label connected
    components for TRANSITIVE entity clusters, then one survivorship
    aggregate per cluster over the row stream.  The quadratic and
    iterative stages touch only the name dictionary; the full table is
    joined once at the end — the standard large-scale ER shape
    (operators/linkage.name_variant_pairs +
    operators/graph.connected_components)."""
    part = load_table(spark, sf_dir, "part")
    # numeric node surrogate (min partkey per name): the CC convergence
    # aggregate sums labels, so nodes must be numeric; the canonical
    # NAME is recomputed per cluster at the end
    # the surrogate dictionary has FOUR consumers (both pair-id joins,
    # the CC universe, the final name join) — pin it so the part
    # aggregate runs once, not per consumer (guide §5).
    names = pin(
        part.groupBy(F.col("p_name").alias("name")).agg(
            F.min("p_partkey").cast("long").alias("nid")
        )
    )
    pairs = name_variant_pairs(
        part, "p_name", F.split(F.col("name"), " ").getItem(1), max_dist=4
    ).select("name_a", "name_b")
    pair_ids = (
        pairs.join(
            names.select(F.col("name").alias("name_a"), F.col("nid").alias("ia")),
            "name_a",
        )
        .join(
            names.select(F.col("name").alias("name_b"), F.col("nid").alias("ib")),
            "name_b",
        )
        .select("ia", "ib")
    )
    labels = connected_components(
        pair_ids, nodes=names.select("nid"), id_a="ia", id_b="ib"
    )
    named = names.join(
        labels.select(F.col("node").alias("nid"), "cluster_id"), "nid"
    ).select(F.col("name").alias("p_name"), "cluster_id")
    j = part.join(named, "p_name")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.min("p_name").alias("canonical_name"),
            F.countDistinct("p_name").cast("long").alias("n_names"),
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(bfround(F.col("p_retailprice") * 100).cast("long"))
            .cast("long")
            .alias("retail_cents"),
        )
        .select("canonical_name", "n_names", "n_parts", "retail_cents")
    )
