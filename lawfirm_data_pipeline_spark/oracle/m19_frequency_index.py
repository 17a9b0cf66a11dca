"""M19 — corpus frequency + index operators (round 3, second wave).

q106 is CCNet-style boilerplate removal (passages present in >= K
distinct documents stripped from every document, no canonical survivor);
q107 puts a distributed Misra-Gries heavy-hitter sketch under an EXACT
gate (the sketch only prunes candidates; the recount is true counts, so
the oracle is a plain GROUP BY/HAVING); q108 is the exact fixed-point
embedding covariance matrix (the PCA/whitening input) whose hot path is
one int64 Gram matmul per partition; q109 is positional-inverted-index
phrase search (term-filtered postings + adjacency equi-joins); q110
drains the custom stateful streaming operator (per-user exact-cents
running totals on ``applyInPandasWithState``) through a real stream and
gates it against batch SQL — its ``transformWithStateInPandas`` twin is
environment-gated on google.protobuf (absent here; see
streaming/stateful.has_tws_deps).

Registered after m18 — outside round 3's 50-query driver window.
Rotation plan: m18 + m19 register FIRST in round 4 (see m18's module
docstring); until then tests/test_oracle_queries.py runs the identical
comparison locally at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_events_stream, load_table
from ..operators.dedup import boilerplate_filter
from ..operators.retrieval import phrase_match_counts
from ..operators.similarity import embedding_covariance
from ..operators.sketch import heavy_hitters
from ..queries import query
from ..streaming.bounded import run_stream_to_table
from ..streaming.stateful import running_user_totals
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"
_TOKS = "list_filter(str_split_regex(trim(text), '\\s+'), t -> t != '')"


# -- q106: boilerplate passage removal (8-token passages, >= 3 docs)
@query(
    "q106_boilerplate_filter",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
         n AS (SELECT doc_id, toks, CAST(ceil(len(toks) / 8.0) AS INT) AS nc
               FROM t WHERE len(toks) > 0),
         p AS (SELECT doc_id, i AS pidx,
                      array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') AS chunk
               FROM n, unnest(generate_series(0, nc - 1)) AS u(i)),
         hot AS (SELECT chunk FROM p GROUP BY chunk
                 HAVING count(DISTINCT doc_id) >= 3),
         kept AS (SELECT * FROM p WHERE chunk NOT IN (SELECT chunk FROM hot)),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages
                 FROM p GROUP BY doc_id)
    SELECT k.doc_id, t.n_passages,
           CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(k.chunk, ' ' ORDER BY k.pidx) AS text_clean
    FROM kept k JOIN tot t USING (doc_id)
    GROUP BY k.doc_id, t.n_passages
    """,
)
def q106_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate has no canonical copy worth keeping: passages in >= 3
    distinct docs are removed everywhere (vs drop_duplicate_passages,
    which keeps first occurrences).  Hot set is tiny by definition ->
    broadcast left_anti; the corpus exchange carries (hash, count) rows
    only (operators/dedup.boilerplate_filter)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return boilerplate_filter(docs, min_docs=3, passage_tokens=8)


# -- q107: Misra-Gries heavy hitters, exact recount gate (phi = 0.02)
@query(
    "q107_heavy_hitters",
    f"""
    WITH toks AS (SELECT unnest({_LTOKS}) AS token FROM documents),
         tot AS (SELECT count(*) AS n_total FROM toks),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
               FROM toks GROUP BY token)
    SELECT token, cnt FROM c, tot WHERE cnt >= ceil(0.02 * n_total)
    """,
)
def q107_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens with exact corpus frequency >= 2%.  The Misra-Gries pass
    sends <= k counters per partition instead of the token stream; the
    exact recount restricted to candidates makes the final answer
    sketch-free (operators/sketch.heavy_hitters — superset guarantee in
    the module docstring)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return heavy_hitters(docs, phi=0.02)


# -- q108: exact embedding covariance (upper triangle, fixed point)
@query(
    "q108_embedding_covariance",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         u AS (SELECT vec_id, i - 1 AS pos,
                      CAST({bfround_sql('v[i] * 1e6', 0)} AS BIGINT) AS x
               FROM e, unnest(generate_series(1, 64)) AS t(i)),
         m AS (SELECT pos, sum(x) AS s, count(*) AS n FROM u GROUP BY pos),
         xy AS (SELECT a.pos AS i, b.pos AS j, sum(a.x * b.x) AS s_xy
                FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.pos <= b.pos
                GROUP BY 1, 2)
    SELECT xy.i, xy.j, mi.n,
           {bfround_sql('''CAST(s_xy AS DOUBLE) / 1e12 / mi.n
                 - (CAST(mi.s AS DOUBLE) / 1e6 / mi.n)
                 * (CAST(mj.s AS DOUBLE) / 1e6 / mi.n)''', 6)} + 0.0 AS cov
    FROM xy JOIN m mi ON xy.i = mi.pos JOIN m mj ON xy.j = mj.pos
    """,
)
def q108_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA input without collecting vectors: per-partition int64 Gram
    matmul (Arrow kernel, d^2 rows out regardless of row count) + JVM
    fixed-point means; covariance assembled from exact integer sums
    (operators/similarity.embedding_covariance)."""
    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    return embedding_covariance(emb, dim=64)


# -- q109: positional-index phrase search ("table part")
@query(
    "q109_phrase_search",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         m AS (SELECT doc_id,
                      len(list_filter(generate_series(1, len(toks) - 1),
                                      i -> toks[i] = 'table' AND toks[i+1] = 'part'))
                      AS n_matches
               FROM t WHERE len(toks) >= 2)
    SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches
    FROM m WHERE n_matches >= 1
    """,
)
def q109_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase counts via positional postings: the term filter cuts
    the exploded stream BEFORE any exchange, then |phrase|-1 unique-key
    (doc, pos) adjacency joins (operators/retrieval.phrase_match_counts
    — the inverted-index plan, not a regex scan)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return phrase_match_counts(docs, ["table", "part"])


# -- q110: transformWithStateInPandas running totals (Spark 4 API)
@query(
    "q110_stateful_totals",
    f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {bfround_sql(f'''CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS DOUBLE)
                 / 100''', 2)} AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def q110_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming run of the custom stateful operator: per-user
    exact-cents running totals in update mode; max-per-key over the
    drained output == final state, compared against batch SQL.

    Runs ``running_user_totals`` (applyInPandasWithState).  The
    ``transformWithStateInPandas`` twin (Spark 4 StatefulProcessor +
    RocksDB ValueState, identical semantics) is environment-gated on
    ``google.protobuf`` — absent in this container — and covered by a
    dep-probing pytest instead (streaming/stateful.has_tws_deps).
    """
    stream = load_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        spark, stream, running_user_totals, "q110_totals", output_mode="update"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
            F.max("last_ts_us").alias("last_ts_us"),
        )
        .select(
            "user_id",
            "n_events",
            bfround(F.col("total_cents").cast("double") / 100, 2).alias("total_value"),
            F.timestamp_micros("last_ts_us").alias("last_ts"),
        )
    )
