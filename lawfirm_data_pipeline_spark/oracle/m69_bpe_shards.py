"""M69 — round-4 wave 9: BPE ENCODING + size-balanced shard layout.

q147 learns BPE merges; q248 closes the tokenizer loop by APPLYING a
merge list to the corpus — the encode half a training pipeline runs on
every document.  Encoding is expressed entirely in string expressions:
each merge rewrites its pair to a 1-char marker (one marker = one
token), so the post-merge token count is just the character count —
zero explosion, zero Python, and literal ``replace`` scans
left-to-right non-overlapping identically in both engines.  Merges
cannot cross word boundaries because the normalized text keeps single
spaces between words.

q249 complements q85's contiguous byte-range shards with the
SORTED-ROUND-ROBIN (LPT-flavored) layout: rank documents by size,
deal rank % n_shards — the classic near-optimal makespan heuristic
for data-loader shard balance, one window + one combinable aggregate.

Registered after m68 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ranking import global_row_number
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# model artifact: (pair → marker) merge list, applied in order; markers
# are control chars absent from any corpus text
_MERGES = [("th", "\x01"), ("\x01e", "\x02"), ("an", "\x03"), ("in", "\x04")]


def _apply_merges_sql(expr: str) -> str:
    for pat, rep in _MERGES:
        pat_sql = "".join(
            f"' || chr({ord(c)}) || '" if ord(c) < 32 else c for c in pat
        )
        expr = f"replace({expr}, '{pat_sql}', chr({ord(rep)}))"
    return expr


@query(
    "q248_bpe_encode",
    f"""
    WITH t AS (SELECT doc_id, array_to_string({_LTOKS}, ' ') AS norm,
                      CAST(len({_LTOKS}) AS BIGINT) AS n_words
               FROM documents WHERE doc_id % 2 = 0),
         e AS (SELECT doc_id, n_words,
                      CAST(length(norm) - (n_words - 1) AS BIGINT)
                        AS n_char_tokens,
                      CAST(length({_apply_merges_sql('norm')})
                           - (n_words - 1) AS BIGINT) AS n_bpe_tokens
               FROM t)
    SELECT doc_id, n_words, n_char_tokens, n_bpe_tokens,
           {bfround_sql('CAST(n_bpe_tokens AS DOUBLE) / n_char_tokens', 6)}
             AS compression
    FROM e
    """,
)
def q248_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 4-merge BPE model to every document: each merge is one
    literal ``replace`` to a marker char, post-merge token count =
    character count — the whole encode is a codegen string pipeline
    over one scan (no explode, no Python), exactly how a fixed small
    merge table should run; the production-size variant batches the
    same rewrite through a Pandas UDF with a real tokenizer, same
    plan position."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    from ..operators.text import tokens

    toks = tokens(F.lower(F.col("text")))
    t = docs.select(
        "doc_id",
        F.array_join(toks, " ").alias("norm"),
        F.size(toks).cast("long").alias("n_words"),
    )
    merged = F.col("norm")
    for pat, rep in _MERGES:
        merged = F.replace(merged, F.lit(pat), F.lit(rep))
    e = t.select(
        "doc_id",
        "n_words",
        (F.length("norm") - (F.col("n_words") - 1)).cast("long").alias(
            "n_char_tokens"
        ),
        (F.length(merged) - (F.col("n_words") - 1)).cast("long").alias(
            "n_bpe_tokens"
        ),
    )
    return e.select(
        "doc_id",
        "n_words",
        "n_char_tokens",
        "n_bpe_tokens",
        bfround(F.col("n_bpe_tokens") / F.col("n_char_tokens"), 6).alias(
            "compression"
        ),
    )


@query(
    "q249_balanced_shards",
    """
    WITH r AS (SELECT doc_id, n_chars,
                      row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1
                        AS rk
               FROM documents),
         s AS (SELECT rk % 8 AS shard, n_chars FROM r),
         g AS (SELECT CAST(shard AS BIGINT) AS shard,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS total_chars
               FROM s GROUP BY 1),
         spread AS (SELECT CAST(max(total_chars) - min(total_chars) AS BIGINT)
                      AS max_spread
                    FROM g)
    SELECT g.shard, g.n_docs, g.total_chars, spread.max_spread
    FROM g, spread
    """,
)
def q249_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted round-robin (LPT-flavored) shard layout: rank by size
    desc, deal rank % 8 — near-optimal makespan balance for data-loader
    shards, vs q85's contiguous byte ranges.  The rank is
    ``ranking.global_row_number`` (two-phase distributed scan, never a
    single-task window) + one combinable aggregate; the max-min spread
    column is the balance SLO a loader monitors."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = global_row_number(
        docs.select("doc_id", "n_chars"),
        [F.col("n_chars").desc(), F.col("doc_id")],
        "_rk",
    )
    s = ranked.select(
        ((F.col("_rk") - 1) % 8).cast("long").alias("shard"), "n_chars"
    )
    g = s.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    spread = g.agg(
        (F.max("total_chars") - F.min("total_chars")).cast("long").alias(
            "max_spread"
        )
    )
    return g.crossJoin(F.broadcast(spread))
