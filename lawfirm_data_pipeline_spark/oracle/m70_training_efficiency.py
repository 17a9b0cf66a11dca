"""M70 — round-4 wave 10: published-recipe quality filtering, mixture
temperature weights, and padding-waste batching audit.

q250 implements the Gopher rule set [Rae et al. 2021, §A1.1] — THE
published heuristic filter battery for pretraining corpora — as
per-rule boolean columns plus the conjunctive keep verdict, all
string/array expressions.  q251 computes temperature-softmax domain
weights (the mixture-reweighting step of DoReMi-style recipes) from a
per-source quality proxy.  q252 audits padding waste of
arrival-order vs length-sorted batching — the data-loader efficiency
number that decides whether a sorted-bucketing pass pays for itself.

Registered after m69 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import global_row_number
from ..operators.text import tokens
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_STOPWORDS = ["a", "and", "in", "is", "it", "of", "the", "to"]


# -- q250: Gopher rule battery
@query(
    "q250_gopher_rules",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents
               WHERE doc_id % 5 = 0),
         m AS (SELECT doc_id,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                      CAST(list_sum(list_transform(toks, w -> length(w)))
                           AS BIGINT) AS char_sum,
                      CAST(len(list_filter(toks,
                           w -> list_contains({_STOPWORDS!r}::VARCHAR[], w)))
                           AS BIGINT) AS n_stop
               FROM t)
    SELECT doc_id, n_tokens,
           n_tokens BETWEEN 50 AND 100000 AS len_ok,
           CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3 AND 10
             AS word_len_ok,
           CAST(n_stop AS DOUBLE) / n_tokens >= 0.06 AS stopword_ok,
           CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3 AS dedup_ok,
           (n_tokens BETWEEN 50 AND 100000)
             AND (CAST(char_sum AS DOUBLE) / n_tokens BETWEEN 3 AND 10)
             AND (CAST(n_stop AS DOUBLE) / n_tokens >= 0.06)
             AND (CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3) AS keep
    FROM m
    """,
)
def q250_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher filter battery per document — length band, mean word
    length 3-10, stopword fraction >= 0.06, distinct-token fraction
    >= 0.3 — each a boolean column so a curation run can report WHICH
    rule killed a document, plus the conjunctive keep.  One tokenize,
    four array aggregates, zero shuffles (pure map stage)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = tokens(F.lower(F.col("text")))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("char_sum"),
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
        .cast("long")
        .alias("n_stop"),
    )
    len_ok = F.col("n_tokens").between(50, 100000)
    wl = F.col("char_sum").cast("double") / F.col("n_tokens")
    word_len_ok = (wl >= 3) & (wl <= 10)
    stop_ok = F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.06
    dedup_ok = F.col("n_distinct").cast("double") / F.col("n_tokens") >= 0.3
    return m.select(
        "doc_id",
        "n_tokens",
        len_ok.alias("len_ok"),
        word_len_ok.alias("word_len_ok"),
        stop_ok.alias("stopword_ok"),
        dedup_ok.alias("dedup_ok"),
        (len_ok & word_len_ok & stop_ok & dedup_ok).alias("keep"),
    )


# -- q251: temperature-softmax domain mixture weights
_TEMP = 2.0


@query(
    "q251_domain_softmax_weights",
    f"""
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      {bfround_sql('avg(n_chars) / 100.0', 6)} AS score
               FROM documents GROUP BY 1),
         e AS (SELECT source, n_docs, score,
                      exp(score / {_TEMP}) AS u
               FROM s),
         z AS (SELECT sum(u) AS z FROM e)
    SELECT e.source, e.n_docs, e.score,
           {bfround_sql('e.u / z.z', 6)} AS weight
    FROM e, z
    """,
)
def q251_domain_softmax_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weights via temperature softmax over a
    quality proxy (mean doc length / 100, rounded BEFORE exp so both
    engines exponentiate the identical double) — the reweighting step
    a DoReMi-style mixture tuner emits.  One aggregate + a broadcast
    one-row normalizer; weights sum to 1 by construction."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        bfround(F.avg("n_chars") / 100.0, 6).alias("score"),
    )
    e = s.withColumn("u", F.exp(F.col("score") / _TEMP))
    z = e.agg(F.sum("u").alias("z"))
    return e.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "score",
        bfround(F.col("u") / F.col("z"), 6).alias("weight"),
    )


# -- q252: padding-waste audit (arrival-order vs length-sorted batches)
_BATCH = 32


@query(
    "q252_padding_waste",
    f"""
    WITH d AS (SELECT doc_id, n_chars FROM documents),
         a AS (SELECT 'arrival' AS strategy, n_chars,
                      (row_number() OVER (ORDER BY doc_id) - 1) // {_BATCH}
                        AS batch
               FROM d),
         b AS (SELECT 'sorted' AS strategy, n_chars,
                      (row_number() OVER (ORDER BY n_chars, doc_id) - 1)
                        // {_BATCH} AS batch
               FROM d),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
         per_batch AS (
            SELECT strategy, batch,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(n_chars) AS BIGINT) AS tok,
                   CAST(max(n_chars) AS BIGINT) AS mx
            FROM u GROUP BY 1, 2)
    SELECT strategy,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(tok) AS BIGINT) AS token_sum,
           CAST(sum(mx * n_rows) AS BIGINT) AS padded_sum,
           {bfround_sql('1.0 - CAST(sum(tok) AS DOUBLE) / sum(mx * n_rows)', 6)}
             AS waste_ratio
    FROM per_batch GROUP BY 1
    """,
)
def q252_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of fixed-size batches under arrival order vs
    length-sorted order: per batch the cost is max_len × rows, waste is
    the padding share — the number that justifies (or kills) a sorted
    bucketing pass before training.  Both layouts derive from rank
    windows; the ranks come from ``ranking.global_row_number`` — the
    two-phase distributed scan (range shuffle + per-partition offsets),
    never a single-task global window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    arrival = global_row_number(docs, [F.col("doc_id")], "_rk").select(
        F.lit("arrival").alias("strategy"),
        "n_chars",
        ((F.col("_rk") - 1) / _BATCH).cast("long").alias("batch"),
    )
    slen = global_row_number(
        docs, [F.col("n_chars"), F.col("doc_id")], "_rk"
    ).select(
        F.lit("sorted").alias("strategy"),
        "n_chars",
        ((F.col("_rk") - 1) / _BATCH).cast("long").alias("batch"),
    )
    per_batch = (
        arrival.unionByName(slen)
        .groupBy("strategy", "batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("tok"),
            F.max("n_chars").cast("long").alias("mx"),
        )
    )
    # r10 q227-class audit: padded cells = Σ(batch max × batch rows)
    # is row-count dependent (bounded only by corpus_rows × max doc
    # length ≈ 1e18 at 100 TB, 9× short of 2^63); sum in DECIMAL(38,0)
    # and cast the OUTPUT to long last — the contract stays long and
    # still raises loudly if the total itself exceeds int64.
    d19 = "decimal(19,0)"
    padded = F.sum(F.col("mx").cast(d19) * F.col("n_rows").cast(d19))
    return per_batch.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("tok").cast("long").alias("token_sum"),
        padded.cast("long").alias("padded_sum"),
        bfround(1.0 - F.sum("tok").cast("double") / padded.cast("double"), 6).alias("waste_ratio"),
    )
