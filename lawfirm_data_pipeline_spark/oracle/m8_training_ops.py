"""M8 — temporal joins + training-data curation ops.

As-of and bounded-range joins over ``events`` (the scalable union-marker
and bucketized-equi-join implementations in operators/temporal.py),
document chunking, and the end-to-end curation composite a pretraining
pipeline runs: quality-filter → language-gate → dedup → chunk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import text as TX
from ..operators.dedup import exact_dedup
from ..operators.sampling import hash_split, stratified_hash_sample
from ..operators.temporal import asof_join, range_join
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql


def _events(spark, sf_dir, etype: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == etype)
        .select("event_id", "user_id", "ts", "value")
    )


# -- q51: as-of join — most recent click before each purchase, per user
@query(
    "q51_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, max(event_id) AS event_id,
                      arg_max(value, event_id) AS value
               FROM events WHERE event_type = 'click'
               GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id,
           c.ts AS asof_ts, c.event_id AS click_id, c.value AS click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q51_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB ``ASOF LEFT JOIN`` semantics from one shuffle + one running
    window — no inequality-join expansion (operators/temporal.py).

    ``tie_break='click_id'`` makes the pick among equal-(user, ts) clicks
    deterministic (max id wins); the oracle pre-reduces to the same row
    via ``max/arg_max`` because DuckDB's ASOF pick under duplicate right
    timestamps is equally arbitrary."""
    purchases = _events(spark, sf_dir, "purchase").drop("value")
    clicks = _events(spark, sf_dir, "click").withColumnsRenamed(
        {"event_id": "click_id", "value": "click_value"}
    )
    joined = asof_join(purchases, clicks, key="user_id", ts="ts", tie_break="click_id")
    return joined.select("event_id", "user_id", "asof_ts", "click_id", "click_value")


# -- q52: bounded range join — clicks within 10 min before each error
@query(
    "q52_range_join",
    """
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, count(*) AS n_recent_clicks
    FROM e JOIN c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts
     AND epoch_us(c.ts) > epoch_us(e.ts) - 600000000
    GROUP BY e.event_id, e.user_id
    """,
)
def q52_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality predicate turned into an equi-join on (user, time
    bucket) with a residual filter — the exchange hash-partitions instead
    of replicating either side."""
    errors = _events(spark, sf_dir, "error").drop("value")
    clicks = _events(spark, sf_dir, "click").select("user_id", "ts")
    pairs = range_join(errors, clicks, key="user_id", window_ms=600_000)
    return pairs.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_recent_clicks")
    )


# -- q53: document chunking (context-window packing)
_LTOKS_RAW = "list_filter(str_split_regex(trim(text), '\\s+'), t -> t != '')"


@query(
    "q53_chunking",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS_RAW} AS toks FROM documents WHERE doc_id < 300),
         n AS (SELECT doc_id, toks,
                      greatest(CAST(ceil((len(toks) - 16) / 48.0) AS INT),
                               CASE WHEN len(toks) > 0 THEN 1 ELSE 0 END) AS n_chunks
               FROM t)
    SELECT doc_id, i AS chunk_idx,
           array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' ') AS chunk
    FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(i)
    WHERE n_chunks > 0
    """,
)
def q53_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 doc → N overlapping 64-token chunks (stride 48): pure map-side
    explode, the shape that feeds tokenizer/packing stages."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return (
        docs.select("doc_id", F.explode(TX.chunk_tokens("text", size=64, overlap=16)).alias("c"))
        .select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.chunk").alias("chunk"))
    )


# -- q54: the curation composite — filter → lang-gate → dedup → stats
@query(
    "q54_curation_pipeline",
    f"""
    WITH t AS (
        SELECT doc_id, text, source,
               list_filter(str_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS ltoks,
               {_LTOKS_RAW} AS toks
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source, ltoks,
               len(toks) AS n_tok,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS wl,
               CASE WHEN length(text) > 0
                    THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                    ELSE 0.0 END AS pr,
               CASE WHEN len(ltoks) > 0
                    THEN CAST(len(list_filter(ltoks, x -> list_contains(['the','a','of','to','and','in','is','it','that','for'], x))) AS DOUBLE) / len(ltoks)
                    ELSE 0.0 END AS sr
        FROM t
    ),
    scored AS (
        SELECT doc_id, source, ltoks, n_tok,
               ((CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
              + (CASE WHEN wl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END)
              + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.2 END)
              + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.4 END)) / 4.0 AS quality
        FROM feats
    ),
    qualified AS (SELECT * FROM scored WHERE quality >= 0.75 AND n_tok >= 10),
    fp AS (SELECT doc_id, source, n_tok,
                  md5(array_to_string(list_sort(list_distinct(ltoks)), ' ')) AS fp
           FROM qualified),
    canon AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
    kept AS (SELECT f.doc_id, f.source, f.n_tok FROM fp f JOIN canon c ON f.doc_id = c.doc_id)
    SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM kept GROUP BY source
    """,
)
def q54_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining-curation flow: quality gate → exact
    dedup (canonical keep) → per-source corpus stats.  Each stage is the
    already-oracle-checked operator; the composite proves they compose
    into one Catalyst plan (scan once, no intermediate materialization)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    t = docs.select(
        "doc_id",
        "source",
        "text",
        TX.tokens("text").alias("toks"),
        TX.tokens(F.lower("text")).alias("ltoks"),
    )
    scored = t.select(
        "doc_id",
        "source",
        "text",
        F.size("toks").cast("int").alias("n_tok"),
        TX.quality_score_of(F.col("text"), F.col("toks"), F.col("ltoks")).alias("quality"),
    )
    qualified = scored.filter((F.col("quality") >= 0.75) & (F.col("n_tok") >= 10))
    # canonical rows carry (source, n_tok) out of the dedup aggregate —
    # the old semi-join back onto `qualified` re-ran the tokenize+score
    # upstream twice (the single most expensive part of the plan)
    groups = exact_dedup(qualified, text_col="text", id_col="doc_id", carry=["source", "n_tok"])
    return groups.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


# -- q56: deterministic train/val/test hash split
_BUCKET_SQL = "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)"


@query(
    "q56_hash_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 9000 THEN 'train'
                WHEN {_BUCKET_SQL} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q56_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split membership = pure function of the key (md5-bucket ranges):
    stable across runs/partitionings/engines, unlike seeded sample()."""
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


# -- q57: stratified deterministic sampling (per-language quotas)
@query(
    "q57_stratified_sample",
    f"""
    SELECT lang, count(*) AS n_kept
    FROM documents
    WHERE (lang = 'en' AND {_BUCKET_SQL} < 2000)
       OR (lang = 'de' AND {_BUCKET_SQL} < 5000)
       OR (lang = 'zh' AND {_BUCKET_SQL} < 10000)
    GROUP BY lang
    """,
)
def q57_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sampleBy without the RNG: per-stratum hash-threshold keep —
    downsample dominant languages, keep the tail whole (the standard
    corpus-rebalancing move)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.2, "de": 0.5, "zh": 1.0}
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


# -- q58: unigram log-prob quality proxy (perplexity-style filtering)
@query(
    "q58_unigram_logprob",
    f"""
    WITH t AS (SELECT doc_id,
                      list_filter(str_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS ltoks
               FROM documents),
         tok AS (SELECT doc_id, unnest(ltoks) AS w FROM t),
         tc AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
         corpus AS (SELECT w, sum(cnt) AS cw FROM tc GROUP BY w),
         tot AS (SELECT sum(cw) AS n FROM corpus),
         lp AS (SELECT w, CAST({bfround_sql('ln(CAST(cw AS DOUBLE) / n) * 1e9', 0)} AS BIGINT) AS lp_fp
                FROM corpus, tot),
         doc AS (SELECT tc.doc_id, sum(tc.cnt * lp.lp_fp) AS s, sum(tc.cnt) AS ntok
                 FROM tc JOIN lp USING (w) GROUP BY 1)
    SELECT doc_id, {bfround_sql('(CAST(s AS DOUBLE) / 1e9) / ntok', 6)} AS avg_logp
    FROM doc
    """,
)
def q58_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-prob per doc under the corpus unigram model
    (CCNet-style perplexity filter), with order-independent fixed-point
    accumulation so the hash gate holds at any parallelism."""
    from ..operators.text import unigram_logprob_scores

    return unigram_logprob_scores(load_table(spark, sf_dir, "documents"))
