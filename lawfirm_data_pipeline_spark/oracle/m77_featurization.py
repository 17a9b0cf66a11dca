"""M77 — round-4 wave 17: ML featurization + late-interaction
retrieval — MaxSim scoring, feature hashing, leave-one-out target
encoding.

q264 is ColBERT-style late interaction [Khattab & Zaharia,
SIGIR'20]: a document's score is Σ over query tokens of the MAX token
similarity inside the doc — kept exact by scoring with int64 micro-fp
DOT products, so the full ranking hash-gates.  q265 is the hashing
trick (md5-derived feature indices, engine-neutral).  q266 is
leakage-free target encoding: each row's category statistic excludes
the row itself (leave-one-out), all in integer cents.

Registered after m76 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import top_k_ranked
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q264: MaxSim late-interaction retrieval (query doc 0 vs corpus)
@query(
    "q264_maxsim_retrieval",
    f"""
    WITH t AS (SELECT vec_id // 8 AS doc_id, vec_id % 8 AS tok,
                      list_transform(embedding,
                          x -> CAST({bfround_sql('CAST(x AS DOUBLE) * 1000', 0)}
                                    AS BIGINT)) AS fp
               FROM embeddings WHERE vec_id // 8 < 250),
         q AS (SELECT tok AS qtok, fp AS qfp FROM t WHERE doc_id = 0),
         pair AS (
            SELECT t.doc_id, q.qtok,
                   max(list_sum(list_transform(generate_series(1, 64),
                       i -> q.qfp[i] * t.fp[i]))) AS best
            FROM t, q WHERE t.doc_id != 0
            GROUP BY 1, 2
         ),
         scored AS (SELECT doc_id, CAST(sum(best) AS BIGINT) AS maxsim
                    FROM pair GROUP BY 1),
         ranked AS (SELECT doc_id, maxsim,
                           row_number() OVER (ORDER BY maxsim DESC, doc_id)
                             AS rank
                    FROM scored)
    SELECT doc_id, maxsim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q264_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction top-10: embeddings grouped 8 tokens per doc,
    doc 0 is the query; score = Σ_qtok max_doctok ⟨q, d⟩ in exact
    int64 milli-fp dot products (milli, not micro: 64-term products
    of ~4e3 values sum within int64).  The per-(doc, qtok) max and
    the per-doc sum are both combinable aggregates over one
    token-pair join whose query side is 8 broadcast rows — the
    ColBERT scan shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        (F.col("vec_id") / 8).cast("long").alias("doc_id"),
        (F.col("vec_id") % 8).alias("tok"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: bfround(x * 1000).cast("long"),
        ).alias("fp"),
    ).filter(F.col("doc_id") < 250)
    q = t.filter(F.col("doc_id") == 0).select(
        F.col("tok").alias("qtok"), F.col("fp").alias("qfp")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qfp"), F.col("fp"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pair = (
        t.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q))
        .groupBy("doc_id", "qtok")
        .agg(F.max(dot).alias("best"))
    )
    scored = pair.groupBy("doc_id").agg(F.sum("best").cast("long").alias("maxsim"))
    return (
        top_k_ranked(scored, 10, [F.col("maxsim").desc(), F.col("doc_id")], "rank")
        .withColumn("rank", F.col("rank").cast("int"))
        .select("doc_id", "maxsim", "rank")
    )


# -- q265: hashing-trick featurization (md5 indices, engine-neutral)
_D = 64


@query(
    "q265_feature_hashing",
    f"""
    WITH f AS (SELECT user_id,
                      ('0x' || substring(md5('ft|' || event_type || '|'
                           || CAST(user_id % 10 AS VARCHAR)), 1, 8))::BIGINT
                        % {_D} AS idx
               FROM events WHERE user_id % 7 = 0)
    SELECT user_id, CAST(idx AS BIGINT) AS idx,
           CAST(count(*) AS BIGINT) AS n
    FROM f GROUP BY 1, 2
    """,
)
def q265_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features (event type × user
    cohort) land in a fixed 64-bucket index space via md5 — no
    vocabulary build, no dictionary shuffle, identical indices on any
    engine/worker — then one combinable count per (user, bucket): the
    sparse feature vectors a linear model trains on."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    feat = F.concat(
        F.lit("ft|"), F.col("event_type"), F.lit("|"),
        (F.col("user_id") % 10).cast("string"),
    )
    idx = F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long") % _D
    return (
        ev.select("user_id", idx.alias("idx"))
        .groupBy("user_id", "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# q266's leave-one-out mean in dollars; singleton categories encode 0
_LOO_MEAN = (
    "CASE WHEN g.n > 1 THEN CAST(g.s - o.cents AS DOUBLE) / (g.n - 1) / 100.0"
    " ELSE 0.0 END"
)


# -- q266: leave-one-out target encoding (leakage-free, exact cents)
@query(
    "q266_target_encoding_loo",
    f"""
    WITH o AS (SELECT o_orderkey, o_orderpriority AS cat,
                      CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents
               FROM orders WHERE o_orderkey % 5 = 0),
         g AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(cents) AS BIGINT) AS s
               FROM o GROUP BY 1)
    SELECT o.o_orderkey, o.cat,
           -- binary-floor 6dp rounding: the same IEEE ops on the same
           -- double in BOTH engines, so ties at a decimal half cannot
           -- split them the way each engine's own round() does (r10
           -- fresh-draw finding)
           {bfround_sql(_LOO_MEAN, 6)} AS loo_mean
    FROM o JOIN g ON g.cat = o.cat
    """,
)
def q266_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's category mean
    EXCLUDES the row itself — (Σ − own)/(n − 1) from one integer
    aggregate broadcast back, the leakage discipline naive target
    encoding violates.  Singleton categories encode 0."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    o = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = o.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    loo = F.when(
        F.col("n") > 1,
        (F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1) / 100.0,
    ).otherwise(0.0)
    return o.join(F.broadcast(g), "cat").select(
        "o_orderkey", "cat", bfround(loo, 6).alias("loo_mean")
    )
