"""M71 — round-4 wave 11: model-evaluation + fairness governance
metrics — calibration (ECE bins), NDCG@k ranking quality, disparate
impact.

These complete the eval family (q161 A/B, q164 precision@k, q177
label separation): q253 is the reliability-diagram/ECE computation a
scoring pipeline runs before shipping a model, q254 the graded
ranking metric retrieval evaluation standardizes on, q255 the 80%-rule
fairness screen a governance review requires.  All exact-arithmetic
derivations (integer counts; doubles only in final projections,
rounded) so the distributed results hash-match the oracle.

Registered after m70 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q253: calibration bins + per-bin ECE contribution
@query(
    "q253_calibration_ece",
    f"""
    WITH s AS (SELECT o_orderkey,
                      (o_orderkey * 2654435761 % 1000) AS conf_milli,
                      CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
               FROM orders),
         b AS (SELECT conf_milli // 100 AS bin, conf_milli, y FROM s),
         g AS (SELECT CAST(bin AS BIGINT) AS bin,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(conf_milli) AS BIGINT) AS conf_sum,
                      CAST(sum(y) AS BIGINT) AS n_pos
               FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
    SELECT g.bin, g.n,
           {bfround_sql('CAST(g.conf_sum AS DOUBLE) / g.n / 1000.0', 6)} AS mean_conf,
           {bfround_sql('CAST(g.n_pos AS DOUBLE) / g.n', 6)} AS obs_rate,
           {bfround_sql('''CAST(g.n AS DOUBLE) / t.total
                 * abs(CAST(g.conf_sum AS DOUBLE) / g.n / 1000.0
                       - CAST(g.n_pos AS DOUBLE) / g.n)''', 6)} AS ece_term
    FROM g, t
    """,
)
def q253_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: hash-derived pseudo-confidence (milli
    units, exact integers until the final projection) vs the observed
    high-value rate per decile bin, with each bin's weighted
    |confidence − accuracy| ECE contribution — two combinable
    aggregates + a broadcast total."""
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        (F.col("o_orderkey") * 2654435761 % 1000).alias("conf_milli"),
        (F.col("o_totalprice") > 150000).cast("int").alias("y"),
    )
    g = (
        s.select((F.col("conf_milli") / 100).cast("long").alias("bin"),
                 "conf_milli", "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conf_milli").cast("long").alias("conf_sum"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    t = g.agg(F.sum("n").cast("long").alias("total"))
    mean_conf = F.col("conf_sum").cast("double") / F.col("n") / 1000.0
    obs = F.col("n_pos").cast("double") / F.col("n")
    return g.crossJoin(F.broadcast(t)).select(
        "bin",
        "n",
        bfround(mean_conf, 6).alias("mean_conf"),
        bfround(obs, 6).alias("obs_rate"),
        bfround(F.col("n").cast("double") / F.col("total") * F.abs(mean_conf - obs), 6).alias("ece_term"),
    )


# -- q254: NDCG@5 per customer (rank by spend, graded by urgency)
@query(
    "q254_ndcg_at_5",
    f"""
    WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
                      5 - CAST(substring(o_orderpriority, 1, 1) AS INT) AS rel
               FROM orders WHERE o_custkey % 7 = 0),
         pred AS (SELECT o_custkey, rel,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC,
                                                     o_orderkey) AS r
                  FROM o),
         ideal AS (SELECT o_custkey, rel,
                          row_number() OVER (PARTITION BY o_custkey
                                             ORDER BY rel DESC, o_orderkey)
                            AS r
                   FROM o),
         dcg AS (SELECT o_custkey,
                        sum(rel / log2(r + 1.0)) AS dcg
                 FROM pred WHERE r <= 5 GROUP BY 1),
         idcg AS (SELECT o_custkey,
                         sum(rel / log2(r + 1.0)) AS idcg
                  FROM ideal WHERE r <= 5 GROUP BY 1)
    SELECT d.o_custkey AS cust,
           {bfround_sql('d.dcg', 6)} AS dcg,
           {bfround_sql('i.idcg', 6)} AS idcg,
           {bfround_sql('CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 1.0 END', 6)}
             AS ndcg
    FROM dcg d JOIN idcg i ON i.o_custkey = d.o_custkey
    """,
)
def q254_ndcg_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 with the spend ranking as the "prediction" and urgency
    grade (4=URGENT … 0=LOW) as relevance: DCG over the predicted
    order vs the ideal ordering, both from ONE scan through two
    windows sharing the customer partitioning.  log2 discounts are
    identical double expressions on both engines; zero-IDCG customers
    define NDCG = 1."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 7 == 0)
    o = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (F.lit(5) - F.substring("o_orderpriority", 1, 1).cast("int")).alias("rel"),
    )
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wi = Window.partitionBy("o_custkey").orderBy(F.col("rel").desc(), "o_orderkey")
    disc = lambda r: F.col("rel") / F.log2(r + 1.0)  # noqa: E731
    pred = o.withColumn("r", F.row_number().over(wp)).filter(F.col("r") <= 5)
    ideal = o.withColumn("r", F.row_number().over(wi)).filter(F.col("r") <= 5)
    dcg = pred.groupBy("o_custkey").agg(F.sum(disc(F.col("r"))).alias("dcg"))
    idcg = ideal.groupBy("o_custkey").agg(F.sum(disc(F.col("r"))).alias("idcg"))
    return (
        dcg.join(idcg, "o_custkey")
        .select(
            F.col("o_custkey").alias("cust"),
            bfround("dcg", 6).alias("dcg"),
            bfround("idcg", 6).alias("idcg"),
            bfround(F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(
                    1.0
                ), 6).alias("ndcg"),
        )
    )


# -- q255: disparate impact (80% rule) across market segments
@query(
    "q255_disparate_impact",
    f"""
    WITH g AS (SELECT c_mktsegment AS seg,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_pos
               FROM customer GROUP BY 1),
         m AS (SELECT max(CAST(n_pos AS DOUBLE) / n) AS max_rate FROM g)
    SELECT g.seg, g.n, g.n_pos,
           {bfround_sql('CAST(g.n_pos AS DOUBLE) / g.n', 6)} AS pos_rate,
           {bfround_sql('CAST(g.n_pos AS DOUBLE) / g.n / m.max_rate', 6)} AS di_ratio,
           CAST(g.n_pos AS DOUBLE) / g.n / m.max_rate < 0.8 AS below_80pct
    FROM g, m
    """,
)
def q255_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparate-impact screen: per-segment approval rate (balance >
    5000) relative to the best-treated segment, flagged under the
    80% rule — the fairness audit a governance review runs next to
    q191/q228.  One combinable aggregate + a broadcast max; exact
    integer counts under the rounded ratios."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("c_acctbal") > 5000).cast("int")).cast("long").alias("n_pos"),
    )
    m = g.agg(F.max(F.col("n_pos").cast("double") / F.col("n")).alias("max_rate"))
    rate = F.col("n_pos").cast("double") / F.col("n")
    return g.crossJoin(F.broadcast(m)).select(
        "seg",
        "n",
        "n_pos",
        bfround(rate, 6).alias("pos_rate"),
        bfround(rate / F.col("max_rate"), 6).alias("di_ratio"),
        (rate / F.col("max_rate") < 0.8).alias("below_80pct"),
    )
