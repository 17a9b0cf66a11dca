"""M14 — corpus-curation operators (charter §2.C additions).

Benchmark decontamination, Gopher-style repetition signals, PII
redaction, vocabulary building, and weighted deterministic sampling —
the curation passes a pretraining pipeline runs between raw crawl and
tokenizer, each with an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import text as TX
from ..operators.curation import (
    ngram_contamination,
    pii_redact,
    pii_stats,
    repetition_stats,
    vocab_topk,
    weighted_hash_keep,
)
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), x -> x != '')"


# -- q76: benchmark decontamination via 8-gram overlap
@query(
    "q76_decontamination",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         g AS (SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS h
               FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
               WHERE len(toks) >= 8),
         bt AS (SELECT toks[1 : 20] AS toks FROM t WHERE doc_id % 83 = 0),
         bg AS (SELECT DISTINCT md5(array_to_string(toks[i : i + 7], ' ')) AS h
                FROM bt, unnest(generate_series(1, len(toks) - 7)) AS u(i)
                WHERE len(toks) >= 8)
    SELECT DISTINCT doc_id FROM g WHERE h IN (SELECT h FROM bg)
    """,
)
def q76_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing any word 8-gram with an eval excerpt set
    (here: the first 20 tokens of every 83rd document, so the planted
    sources are guaranteed hits).  The eval side collapses to a
    broadcast set of shingle hashes — the 100 TB scan never shuffles
    (operators/curation.py:ngram_contamination)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    excerpt = F.array_join(
        F.slice(TX.tokens(F.lower(F.col("text"))), 1, 20), " "
    ).alias("text")
    bench = docs.filter(F.col("doc_id") % 83 == 0).select(excerpt)
    return ngram_contamination(docs, bench, n=8)


# -- q77: repetition-based quality signals (Gopher filters)
@query(
    "q77_repetition_stats",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         uni AS (SELECT doc_id, w, count(*) AS c
                 FROM (SELECT doc_id, unnest(toks) AS w FROM t)
                 GROUP BY doc_id, w),
         ud AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                       count(*) AS n_distinct, max(c) AS top_w
                FROM uni GROUP BY doc_id),
         big AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS g
                       FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                       WHERE len(toks) >= 2)
                 GROUP BY doc_id, g),
         bd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_big, max(c) AS top_big
                FROM big GROUP BY doc_id)
    SELECT ud.doc_id, n_tok,
           {bfround_sql('1 - CAST(n_distinct AS DOUBLE) / n_tok', 6)} AS dup_word_frac,
           {bfround_sql('CAST(top_w AS DOUBLE) / n_tok', 6)} AS top_word_frac,
           {bfround_sql('coalesce(CAST(top_big AS DOUBLE) / n_big, 0.0)', 6)} AS top_bigram_frac
    FROM ud LEFT JOIN bd ON ud.doc_id = bd.doc_id
    """,
)
def q77_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-word / top-word / top-bigram fractions per document —
    the repetition filters (Gopher §A1.2) that catch boilerplate which
    perplexity scoring misses."""
    return repetition_stats(load_table(spark, sf_dir, "documents", rebalance=True))


# -- q78: PII detection + redaction audit
_SYNTH = (
    "concat_ws(' ', text, 'contact', "
    "'user' || CAST(doc_id AS VARCHAR) || '@example.com', "
    "'+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), "
    "'10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1')"
)
_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "q78_pii_redaction",
    f"""
    WITH s AS (SELECT doc_id, {_SYNTH} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_IP}')) AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_EMAIL}', '<EMAIL>', 'g'),
               '{_PHONE}', '<PHONE>', 'g'),
               '{_IP}', '<IP>', 'g')) AS red_fp
    FROM s
    """,
)
def q78_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect + redact emails/phones/IPv4s.  The corpus has no organic
    PII, so each row gets a deterministic synthetic contact line (pure
    function of doc_id — both engines synthesize the identical string);
    the check covers match counts AND the full redacted text via md5.
    Patterns are written in the Java-regex ∩ RE2 dialect so the twin is
    exact (operators/curation.py)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    synth = F.concat_ws(
        " ",
        F.col("text"),
        F.lit("contact"),
        F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        F.concat(
            F.lit("+1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
        F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
    )
    stats = pii_stats(synth)
    return docs.select(
        "doc_id",
        stats["n_emails"].alias("n_emails"),
        stats["n_phones"].alias("n_phones"),
        stats["n_ips"].alias("n_ips"),
        F.md5(pii_redact(synth)).alias("red_fp"),
    )


# -- q79: corpus vocabulary top-k (tokenizer-training precursor)
@query(
    "q79_vocab_topk",
    f"""
    SELECT w, count(*) AS cnt
    FROM (SELECT unnest({_LTOKS}) AS w FROM documents)
    GROUP BY w ORDER BY cnt DESC, w LIMIT 25
    """,
)
def q79_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 corpus vocabulary by frequency, ties broken by term.  The
    global sort runs on the aggregated vocabulary only — the corpus scan
    partial-aggregates map-side."""
    return vocab_topk(load_table(spark, sf_dir, "documents"), k=25)


# -- q80: weighted deterministic sampling (importance ∝ length)
_BUCKET = "(('0x' || substring(md5('w' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)"


@query(
    "q80_weighted_sample",
    f"""
    SELECT doc_id FROM documents
    WHERE {_BUCKET} < least(1.0, greatest(0.0, CAST(n_chars AS DOUBLE) / 800.0)) * 10000
    """,
)
def q80_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each doc with probability ∝ length (clamped to [0,1]),
    decided by its md5 bucket: importance sampling whose membership is a
    pure function of the key — rerun/repartition-stable, unlike seeded
    sample() (operators/curation.py:weighted_hash_keep)."""
    docs = load_table(spark, sf_dir, "documents")
    return weighted_hash_keep(docs, "doc_id", F.col("n_chars") / 800.0).select("doc_id")
