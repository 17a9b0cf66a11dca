"""M6a — text-analysis oracle queries over ``documents`` (charter §2.C)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import text as TX
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

# DuckDB-side tokenization identical to text.tokens()
_TOKS = "list_filter(str_split_regex(trim(text), '\\s+'), t -> t != '')"
_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"
_SW = "['the','a','of','to','and','in','is','it','that','for']"


@query(
    "q26_text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks, {_LTOKS} AS ltoks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars_actual,
           CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                ELSE 0.0 END AS mean_word_len,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(ltoks) > 0
                THEN CAST(len(list_filter(ltoks, t -> list_contains({_SW}, t))) AS DOUBLE) / len(ltoks)
                ELSE 0.0 END AS stopword_ratio
    FROM t
    """,
)
def q26_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    t = docs.select(
        "doc_id",
        "text",
        TX.tokens("text").alias("toks"),
        TX.tokens(F.lower("text")).alias("ltoks"),
    )
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        TX.mean_word_len_of(F.col("toks")).alias("mean_word_len"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.stopword_ratio_of(F.col("ltoks")).alias("stopword_ratio"),
    )


@query(
    "q27_token_counts",
    f"""
    SELECT doc_id,
           len({_TOKS}) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS bpe_tokens
    FROM documents
    """,
)
def q27_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.bpe_token_estimate("text").alias("bpe_tokens"),
    )


_MARKER_SQL = " UNION ALL ".join(
    f"SELECT '{lang}' AS lang, {[*markers]!r}::VARCHAR[] AS markers"
    for lang, markers in TX.LANG_MARKERS.items()
)


@query(
    "q28_lang_id",
    f"""
    WITH docs_t AS (SELECT doc_id, {_LTOKS} AS ltoks FROM documents),
         langs AS ({_MARKER_SQL}),
         scored AS (
            SELECT d.doc_id, l.lang,
                   len(list_filter(d.ltoks, t -> list_contains(l.markers, t))) AS score
            FROM docs_t d CROSS JOIN langs l
         ),
         ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, lang DESC) AS rn
            FROM scored
         )
    SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS guessed_lang
    FROM ranked WHERE rn = 1
    """,
)
def q28_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax of per-language marker evidence; tie → lexicographically
    larger lang (array_max struct ordering), zero evidence → 'und'."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    t = docs.select("doc_id", TX.tokens(F.lower("text")).alias("ltoks"))
    return t.select("doc_id", TX.lang_id_of(F.col("ltoks")).alias("guessed_lang"))


@query(
    "q29_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_LTOKS})), ' ')) AS fp,
           md5(array_to_string(list_filter({_LTOKS}, t -> t != '')[1:5], ' ')) AS prefix_fp
    FROM documents
    """,
)
def q29_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    t = docs.select("doc_id", TX.tokens(F.lower("text")).alias("ltoks"))
    return t.select(
        "doc_id",
        TX.fingerprint_of(F.col("ltoks")).alias("fp"),
        TX.prefix_fingerprint_of(F.col("ltoks"), 5).alias("prefix_fp"),
    )


@query(
    "q30_quality_score",
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks, {_LTOKS} AS ltoks FROM documents),
         feats AS (
            SELECT doc_id,
                   len(toks) AS n_tok,
                   CASE WHEN len(toks) > 0
                        THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS wl,
                   CASE WHEN length(text) > 0
                        THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                        ELSE 0.0 END AS pr,
                   CASE WHEN len(ltoks) > 0
                        THEN CAST(len(list_filter(ltoks, t -> list_contains({_SW}, t))) AS DOUBLE) / len(ltoks)
                        ELSE 0.0 END AS sr
            FROM t
         )
    SELECT doc_id,
           {bfround_sql('''((CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN wl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END)
                + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.2 END)
                + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.4 END)) / 4.0''', 6)} AS quality
    FROM feats
    """,
)
def q30_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    t = docs.select(
        "doc_id",
        "text",
        TX.tokens("text").alias("toks"),
        TX.tokens(F.lower("text")).alias("ltoks"),
    )
    return t.select(
        "doc_id",
        TX.quality_score_of(F.col("text"), F.col("toks"), F.col("ltoks")).alias("quality"),
    )
