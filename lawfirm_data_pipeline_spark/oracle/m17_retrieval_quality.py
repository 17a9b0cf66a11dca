"""M17 — retrieval + corpus-quality ops (round-3 charter additions).

BM25 top-k retrieval, quality-aware duplicate survivor selection,
incremental batch-vs-history dedup, temperature-scaled mixture weights,
OOV-rate vocabulary audit, ingest text normalization, and per-source
exact quantile profiles — the remaining ops a pretraining-data pipeline
runs that SURVEY.md §2.C hadn't yet covered.  Every query has a DuckDB
twin with the repo's exact-integer / fixed-point aggregation discipline
so value hashes hold at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.curation import oov_stats, vocab_topk
from ..operators.dedup import incremental_exact_dedup, keep_best_in_group
from ..operators.retrieval import bm25_topk
from ..operators.sampling import temperature_mixture_weights
from ..operators.text import normalize_text
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from ._shared import PLANTED_CORPUS_SQL as _CORPUS_SQL
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# q93/q97 expected-token twin: the 1e6-scaled weight, binary-floored
# at d=0 exactly like the Spark side's bfround(weight * 1e6)
_W6 = bfround_sql("CAST(pa AS DOUBLE) / z", 6)
_ETOK_FP = bfround_sql(f"({_W6}) * 1000000.0", 0)


_BM25_TERMS = ["spark", "window", "hash"]
_BM25_IN = "('spark', 'window', 'hash')"


# -- q90: BM25 top-k retrieval
@query(
    "q90_bm25_topk",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         dl AS (SELECT doc_id, len(toks) AS dl FROM t),
         consts AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
         tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
                WHERE w IN {_BM25_IN} GROUP BY 1, 2),
         idf AS (SELECT w, ln(1.0 + (n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf
                 FROM tf CROSS JOIN consts GROUP BY w, n_docs),
         sc AS (SELECT tf.doc_id,
                       CAST({bfround_sql('''idf.idf * (tf.tf * 2.2)
                            / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                               / (CAST(sum_dl AS DOUBLE) / n_docs))) * 1e9''', 0)} AS BIGINT)
                       AS s_fp
                FROM tf JOIN dl USING (doc_id) JOIN idf USING (w) CROSS JOIN consts),
         doc AS (SELECT doc_id, sum(s_fp) AS s_fp FROM sc GROUP BY 1)
    SELECT doc_id, {bfround_sql('CAST(s_fp AS DOUBLE) / 1e9', 6)} AS score
    FROM doc ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q90_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed query — inverted-index scoring as
    one explode-filter scan + broadcast IDF join + exact fixed-point
    per-doc sum (operators/retrieval.py); the term filter prunes the
    exploded stream before any exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=10)


# -- q91: quality-aware duplicate survivor selection
@query(
    "q91_keep_best_dup",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         f AS (SELECT doc_id, md5(text) AS fp, length(text) AS q FROM corpus),
         ranked AS (SELECT fp, doc_id, q,
                           row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn,
                           count(*) OVER (PARTITION BY fp) AS gs
                    FROM f)
    SELECT fp, doc_id AS best_id, q AS best_quality, gs AS group_size
    FROM ranked WHERE rn = 1
    """,
)
def q91_keep_best_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within each exact-duplicate group keep the highest-quality copy
    (longest text; ties -> min id) via a single min(struct) aggregate —
    no window pass (operators/dedup.keep_best_in_group)."""
    from ._shared import planted_corpus

    corpus = planted_corpus(spark, sf_dir)
    best = keep_best_in_group(
        corpus, quality=F.length("text"), fp=F.md5(F.col("text").cast("binary"))
    )
    return best.select("fp", "best_id", "best_quality", "group_size")


# -- q92: incremental dedup of a new batch against the historical corpus
@query(
    "q92_incremental_dedup",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         hist AS (SELECT DISTINCT md5(text) AS fp FROM corpus WHERE doc_id < 100000),
         batch AS (SELECT doc_id, text, md5(text) AS fp FROM corpus WHERE doc_id >= 100000),
         fresh AS (SELECT * FROM batch
                   WHERE fp NOT IN (SELECT fp FROM hist)),
         keep AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY fp)
    SELECT b.doc_id, length(b.text) AS n_chars
    FROM batch b JOIN keep k ON b.doc_id = k.doc_id
    """,
)
def q92_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped dedup: the incoming batch anti-joins its content
    hashes against the already-ingested corpus' hash index, then keeps
    one copy per fingerprint within the batch — exact copies of history
    are dropped, genuinely new (near-dup) docs survive."""
    from ._shared import planted_corpus

    corpus = planted_corpus(spark, sf_dir)
    hist = corpus.filter(F.col("doc_id") < 100000)
    batch = corpus.filter(F.col("doc_id") >= 100000)
    kept = incremental_exact_dedup(batch, hist)
    return kept.select("doc_id", F.length("text").alias("n_chars"))


# -- q93: temperature-scaled (alpha) mixture weights per source
@query(
    "q93_mixture_weights",
    f"""
    WITH per AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS size
                 FROM documents GROUP BY source),
         s AS (SELECT source, size,
                      CAST({bfround_sql('power(CAST(size AS DOUBLE), 0.3) * 1e9', 0)} AS BIGINT) AS pa
               FROM per),
         z AS (SELECT sum(pa) AS z FROM s)
    SELECT source, size,
           {bfround_sql('CAST(pa AS DOUBLE) / z', 6)} AS weight,
           CAST({_ETOK_FP} AS BIGINT)
               AS expected_tokens
    FROM s CROSS JOIN z
    """,
)
def q93_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-sampling (share ∝ size^0.3) mixture weights + expected
    token allocation under a 1M budget — the multilingual-rebalance
    computation, all in-plan with a fixed-point normalizer
    (operators/sampling.temperature_mixture_weights)."""
    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_weights(
        docs, stratum="source", size_col="n_chars", alpha=0.3, budget_tokens=1_000_000
    )


# -- q94: OOV rate per document vs the trained top-k vocabulary
@query(
    "q94_oov_rate",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         vocab AS (SELECT w FROM (
             SELECT w, count(*) AS c FROM tok GROUP BY w
             ORDER BY c DESC, w LIMIT 12)),
         m AS (SELECT tok.doc_id,
                      CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END AS oov
               FROM tok LEFT JOIN vocab ON tok.w = vocab.w)
    SELECT doc_id, count(*) AS n_tok, CAST(sum(oov) AS BIGINT) AS n_oov,
           {bfround_sql('CAST(sum(oov) AS DOUBLE) / count(*)', 6)} AS oov_rate
    FROM m GROUP BY doc_id
    """,
)
def q94_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: fraction of each doc's tokens outside
    the corpus' own top-12 vocabulary (deterministic count-then-term
    tie-break); explode -> broadcast vocab join -> exact integer per-doc
    counts (operators/curation.oov_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_topk(docs, k=12)
    return oov_stats(docs, vocab.select("w"))


# -- q95: ingest text normalization (markup strip + whitespace collapse)
@query(
    "q95_normalize_text",
    """
    WITH raw AS (SELECT doc_id,
                        '<div class="x">' || upper(substr(text, 1, 40)) || '</div>'
                        || chr(10) || chr(10) || '  ' || text AS raw
                 FROM documents),
         norm AS (SELECT doc_id,
                         lower(trim(regexp_replace(
                             regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                             '\\s+', ' ', 'g'))) AS n
                  FROM raw)
    SELECT doc_id, md5(n) AS norm_md5, length(n) AS n_chars_norm FROM norm
    """,
)
def q95_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization kit over deterministically-dirtied input (planted
    markup + duplicated leading text + stray whitespace): tag strip,
    whitespace collapse, trim, lowercase — a pure JVM regex projection
    (operators/text.normalize_text); output hashed so cells stay scalar."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit('<div class="x">'),
            F.upper(F.substring("text", 1, 40)),
            F.lit("</div>\n\n  "),
            F.col("text"),
        ).alias("raw"),
    )
    norm = raw.select("doc_id", normalize_text("raw").alias("n"))
    return norm.select(
        "doc_id",
        F.md5(F.col("n").cast("binary")).alias("norm_md5"),
        F.length("n").alias("n_chars_norm"),
    )


# -- q96: per-source exact quantile profile
@query(
    "q96_source_quantiles",
    f"""
    SELECT source, count(*) AS n_docs,
           {bfround_sql('quantile_cont(n_chars, 0.25)', 4)} AS q25,
           {bfround_sql('quantile_cont(n_chars, 0.50)', 4)} AS q50,
           {bfround_sql('quantile_cont(n_chars, 0.75)', 4)} AS q75,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY source
    """,
)
def q96_source_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length profile with EXACT linear-interpolated
    quantiles (Spark ``percentile`` == DuckDB ``quantile_cont``) — the
    distribution sanity check run before and after every curation stage.
    Exact quantiles shuffle the group's values once; at 100 TB the same
    query swaps to ``approx_percentile`` with a q50-style tolerance gate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        bfround(F.percentile("n_chars", F.lit(0.25)), 4).alias("q25"),
        bfround(F.percentile("n_chars", F.lit(0.50)), 4).alias("q50"),
        bfround(F.percentile("n_chars", F.lit(0.75)), 4).alias("q75"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
