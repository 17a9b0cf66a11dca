"""M78 — round-4 wave 18: span-corruption masking plan + token-budget
trimming.

q267 plans T5-style span corruption [Raffel et al., JMLR'20]
deterministically: hash-selected span starts, hash-selected lengths,
overlapping spans merged with the classic islands window — emitting
per-document (n_spans, n_masked, mask_rate) the preprocessing job
needs before writing masked examples.  q268 cuts a corpus to a token
budget by quality rank — the "keep the best N tokens" trim every
mixture build ends with — via one ranking window and a running-sum
cutoff.

Registered after m77 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import global_running_sum
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q267: deterministic span-corruption plan (merged hash spans)
@query(
    "q267_span_corruption",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({_LTOKS}) AS BIGINT) AS n_tokens
               FROM documents WHERE doc_id % 6 = 0),
         pos AS (SELECT doc_id, n_tokens, i
                 FROM t, unnest(generate_series(0, n_tokens - 1)) AS u(i)),
         starts AS (
            SELECT doc_id, n_tokens, i AS s,
                   least(i + 2 + ('0x' || substring(md5('len|' || doc_id
                           || '|' || i), 1, 8))::BIGINT % 3,
                         n_tokens) AS e
            FROM pos
            WHERE ('0x' || substring(md5('span|' || doc_id || '|' || i),
                   1, 8))::BIGINT % 8 = 0
         ),
         isl AS (
            SELECT doc_id, n_tokens, s, e,
                   CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                            ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_island
            FROM starts
         ),
         grp AS (SELECT doc_id, n_tokens, s, e,
                        sum(new_island) OVER (PARTITION BY doc_id
                            ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g
                 FROM isl),
         merged AS (SELECT doc_id, n_tokens, g,
                           min(s) AS ms, max(e) AS me
                    FROM grp GROUP BY 1, 2, 3)
    SELECT doc_id, n_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(me - ms) AS BIGINT) AS n_masked,
           {bfround_sql('CAST(sum(me - ms) AS DOUBLE) / n_tokens', 6)} AS mask_rate
    FROM merged GROUP BY 1, 2
    """,
)
def q267_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span starts where md5(doc,pos) hits 1/8, lengths 2-4 from a
    second hash, clipped at the doc end, overlaps merged via the
    islands pattern (running max-end window) — the deterministic
    masking plan both engines derive identically; a real masking job
    writes the spans, this gates their arithmetic."""
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    t = docs.select(
        "doc_id",
        F.size(tokens(F.lower(F.col("text")))).cast("long").alias("n_tokens"),
    )
    pos = t.select(
        "doc_id", "n_tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_tokens") - 1)).alias("i"),
    )
    h = lambda tag: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat(F.lit(tag + "|"), F.col("doc_id"), F.lit("|"), F.col("i"))),
            1, 8,
        ), 16, 10,
    ).cast("long")
    starts = pos.filter(h("span") % 8 == 0).select(
        "doc_id", "n_tokens",
        F.col("i").alias("s"),
        F.least(F.col("i") + 2 + h("len") % 3, F.col("n_tokens")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = starts.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(prev_max_e, F.lit(-1))).cast("int"),
    )
    grp = isl.withColumn(
        "g", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    merged = grp.groupBy("doc_id", "n_tokens", "g").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("n_masked"),
        bfround(F.sum(F.col("me") - F.col("ms")).cast("double") / F.col("n_tokens"), 6).alias("mask_rate"),
    )


# -- q268: token-budget trim by quality rank
_BUDGET = 20_000


@query(
    "q268_token_budget_trim",
    f"""
    WITH d AS (SELECT doc_id, n_chars,
                      ('0x' || substring(md5('q|' || doc_id), 1, 8))::BIGINT
                        % 1000 AS q
               FROM documents),
         r AS (SELECT doc_id, n_chars, q,
                      sum(n_chars) OVER (ORDER BY q DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
               FROM d),
         kept AS (SELECT * FROM r WHERE cum <= {_BUDGET})
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS tokens_kept,
           CAST(min(q) AS BIGINT) AS min_quality,
           CAST(max(cum) AS BIGINT) AS budget_used
    FROM kept
    """,
)
def q268_token_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the highest-quality documents until the token budget is
    spent: rank by (hash-derived) quality desc, running token sum,
    cut at the budget — the final mixture trim every corpus build ends
    with.  The running sum is ``ranking.global_running_sum`` — the
    two-phase distributed prefix sum (range shuffle + per-partition
    offsets), never a single-task global window."""
    docs = load_table(spark, sf_dir, "documents")
    q = F.conv(
        F.substring(F.md5(F.concat(F.lit("q|"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("long") % 1000
    r = global_running_sum(
        docs.select("doc_id", "n_chars", q.alias("q")),
        "n_chars",
        [F.col("q").desc(), F.col("doc_id")],
        "cum",
    )
    kept = r.filter(F.col("cum") <= _BUDGET)
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("tokens_kept"),
        F.min("q").cast("long").alias("min_quality"),
        F.max("cum").cast("long").alias("budget_used"),
    )
