"""M41 — fractional upsampling and the corpus data card (round 3,
final wave).

q179 realizes FRACTIONAL epoch weights (e.g. 2.3 epochs of a source =
2 full copies + a deterministic 30% hash-sample third copy) — the
upsampling complement of q82's budget mixture, which only ever
downsamples; q180 is the per-source data card (docs, tokens, corpus
share, cumulative share in share order) — the one-pager a training-
data release ships.

Registered after m40 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# per-source epoch weights for the upsampling demo (driver sources are
# src0..src19): >1 upsamples, fractional parts hash-sample, <1
# downsamples, unlisted sources keep weight 1; identical literals on
# both sides
_WEIGHTS = {"src0": 2.3, "src1": 1.5, "src2": 0.4, "src3": 3.0, "src4": 0.7}


def _weight_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _WEIGHTS.items()
    )
    return f"CASE source {whens} ELSE 1.0 END"


# -- q179: fractional-epoch upsampling (repeat + hash-sampled remainder)
@query(
    "q179_epoch_repeat",
    f"""
    WITH w AS (SELECT doc_id, source, {_weight_case_sql()} AS wt FROM documents),
         c AS (SELECT doc_id, source,
                      CAST(floor(wt) AS BIGINT)
                      + CASE WHEN ('0x' || substring(md5('rep:'
                                || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
                             < CAST({bfround_sql('(wt - floor(wt)) * 10000', 0)} AS BIGINT)
                             THEN 1 ELSE 0 END AS copies
               FROM w)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_in,
           CAST(sum(copies) AS BIGINT) AS n_docs_out,
           {bfround_sql('CAST(sum(copies) AS DOUBLE) / CAST(count(*) AS DOUBLE)', 6)}
             AS realized_ratio
    FROM c GROUP BY 1
    """,
)
def q179_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch weight 2.3 = two full copies plus a 30% md5-threshold
    third copy: floor(w) + (hash-bucket < frac) per doc, membership a
    pure function of the key (the q82 rule, pointed UP).  The audit
    reports realized ratios; the actual repeated rows would explode
    over generate_series(1, copies) — a projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    wt = F.lit(1.0)
    expr = None
    for k, v in _WEIGHTS.items():
        expr = (F.when(F.col("source") == k, F.lit(v)) if expr is None
                else expr.when(F.col("source") == k, F.lit(v)))
    wt = expr.otherwise(F.lit(1.0))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("rep:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 10000
    )
    frac_fp = bfround((wt - F.floor(wt)) * 10000).cast("long")
    copies = (F.floor(wt).cast("long") + F.when(bucket < frac_fp, 1).otherwise(0)).alias(
        "copies"
    )
    c = docs.select("source", copies)
    return c.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_in"),
        F.sum("copies").cast("long").alias("n_docs_out"),
        bfround(F.sum("copies").cast("double") / F.count(F.lit(1)).cast("double"), 6).alias("realized_ratio"),
    )


# -- q180: the per-source corpus data card
@query(
    "q180_data_card",
    f"""
    WITH t AS (SELECT source, CAST(len({_LTOKS}) AS BIGINT) AS ntok
               FROM documents),
         per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(ntok) AS BIGINT) AS n_tokens
                 FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS all_tokens FROM per)
    SELECT source, n_docs, n_tokens,
           {bfround_sql('CAST(n_tokens AS DOUBLE) / all_tokens', 6)} AS token_share,
           {bfround_sql('''CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
                                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / all_tokens''', 6)} AS cum_share
    FROM per, tot
    """,
)
def q180_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs / tokens / share / cumulative share per source, largest
    first — the mixture table of a dataset card.  The cumulative
    window runs over the |sources| aggregate (tiny by construction);
    shares are single divisions of exact token sums."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != "")
    t = docs.select("source", F.size(toks).cast("long").alias("ntok"))
    per = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("all_tokens"))
    s = per.crossJoin(F.broadcast(tot))
    w = Window.orderBy(F.desc("n_tokens"), "source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        bfround(F.col("n_tokens").cast("double") / F.col("all_tokens"), 6).alias(
            "token_share"
        ),
        bfround(F.sum("n_tokens").over(w).cast("double") / F.col("all_tokens"), 6).alias("cum_share"),
    )
