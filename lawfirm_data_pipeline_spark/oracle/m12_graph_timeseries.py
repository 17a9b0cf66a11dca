"""M12 — graph dedup clustering + time-series gap-fill.

q70 resamples events to an hourly grid with forward-fill (the
hypertable-rollup shape); q71 closes the dedup loop: jaccard near-dup
PAIRS (q32) → connected components → one cluster id per document,
hash-checked against a DuckDB recursive-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

from ..operators.graph import connected_components
from ..operators.similarity import quantize_int8
from ..operators.timeseries import resample_ffill
from ..queries import query
from ._shared import (
    LTOKS_SQL as _LTOKS,
    PLANTED_CORPUS_SQL as _CORPUS_SQL,
    SHINGLES_SQL as _SHINGLES,
    planted_corpus as _planted_corpus,
    planted_jaccard_pairs,
)
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql


# -- q70: resample + forward-fill gap-fill on events
@query(
    "q70_resample_ffill",
    f"""
    WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id % 11 = 0),
         b AS (
            SELECT user_id, date_trunc('hour', ts) AS bucket,
                   CAST(sum(CAST({bfround_sql('value * 1e6', 0)} AS BIGINT)) AS BIGINT) AS sum_micros,
                   count(*) AS n
            FROM e GROUP BY 1, 2
         ),
         span AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
                  FROM b GROUP BY 1),
         grid AS (SELECT user_id,
                         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
                  FROM span),
         j AS (SELECT g.user_id, g.bucket, b.sum_micros, b.n
               FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket)
    SELECT user_id, bucket,
           coalesce(n, 0) AS n,
           sum_micros,
           last_value(sum_micros IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING) AS filled_micros,
           n IS NULL AS is_gap
    FROM j
    """,
)
def q70_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of a keyed event stream with LOCF gap-fill — see
    operators/timeseries.py for the three-stage scale argument."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 11 == 0)
    return resample_ffill(events, key_col="user_id", ts_col="ts", value_col="value")


# -- q71: near-dup clusters = connected components over jaccard pairs
@query(
    "q71_neardup_clusters",
    f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS toks FROM corpus),
         idx AS (SELECT DISTINCT doc_id AS did, unnest({_SHINGLES}) AS sh FROM t),
         sizes AS (SELECT did, count(*) AS sz FROM idx GROUP BY did),
         common AS (
            SELECT a.did AS ida, b.did AS idb, count(*) AS common
            FROM idx a JOIN idx b ON a.sh = b.sh AND a.did < b.did
            GROUP BY 1, 2
         ),
         pairs AS (
            SELECT ida, idb
            FROM common
            JOIN sizes sa ON sa.did = ida
            JOIN sizes sb ON sb.did = idb
            WHERE {bfround_sql('CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)', 6)} >= 0.5
         ),
         edges AS (SELECT ida AS a, idb AS b FROM pairs
                   UNION ALL SELECT idb, ida FROM pairs),
         reach(node, root) AS (
            SELECT doc_id, doc_id FROM corpus
            UNION
            SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
         )
    SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
    """,
)
def q71_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup grouping: q32's jaccard pairs become edges,
    min-label propagation assigns each doc the min doc_id reachable
    from it (singletons cluster with themselves)."""

    corpus = _planted_corpus(spark, sf_dir)
    pairs = planted_jaccard_pairs(spark, sf_dir)
    return connected_components(
        pairs.select("ida", "idb"), nodes=corpus.select("doc_id")
    ).select(F.col("node").alias("doc_id"), "cluster_id")


# -- q72: symmetric int8 embedding quantization (scale + audit scalars)
@query(
    "q72_quantize_int8",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
         s AS (SELECT vec_id, e,
                      CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
                           ELSE list_max(list_transform(e, x -> abs(x))) / 127.0
                      END AS scale
               FROM v),
         q AS (SELECT vec_id, scale, e,
                      list_transform(e, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
               FROM s)
    SELECT vec_id, {bfround_sql('scale', 6)} AS scale6,
           CAST(list_sum(qv) AS BIGINT) AS qsum,
           list_min(qv) AS qmin, list_max(qv) AS qmax,
           {bfround_sql('''list_max(list_transform(generate_series(1, len(e)),
                                         i -> abs(e[i] - qv[i] * scale)))''', 6)} AS max_err
    FROM q
    """,
)
def q72_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit — see
    operators/similarity.quantize_int8 for the rounding contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8(emb)
