"""M23 — drift monitoring, anomaly detection, containment dedup
(round 3, sixth wave).

q121 flags hours whose event volume deviates from the trailing-24h
baseline (rolling integer co-moments -> deterministic z-scores); q122
is DIRECTIONAL shingle containment — the quote-inclusion/subset-repost
detector symmetric Jaccard misses; q123 is per-source add-one-smoothed
KL divergence between two document populations — the corpus-drift
monitor a pipeline runs when a new crawl lands.

Registered after m22 — outside round 3's 50-query window; rotation:
m18-m23 register first in round 4 (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.behavior import hourly_anomalies
from ..operators.curation import token_drift_kl
from ..operators.dedup import containment_pairs
from ..queries import query
from ._shared import (
    LTOKS_SQL as _LTOKS_P,
    PLANTED_CORPUS_SQL as _CORPUS_SQL,
    SHINGLES_SQL as _SHINGLES,
    planted_corpus as _planted_corpus,
)
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"


# -- q121: rolling-baseline hourly anomaly detection
@query(
    "q121_hourly_anomalies",
    f"""
    WITH hourly AS (SELECT event_type AS etype, date_trunc('hour', ts) AS bucket,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
         w AS (SELECT etype, bucket, n,
                      sum(n) OVER win AS s,
                      sum(n * n) OVER win AS ss,
                      count(n) OVER win AS m
               FROM hourly
               WINDOW win AS (PARTITION BY etype ORDER BY bucket
                              ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT etype, bucket, n,
                      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / m)
                      / (m - 1) AS var,
                      {bfround_sql('''(CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / m)
                            / sqrt((CAST(ss AS DOUBLE)
                                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / m)
                                   / (m - 1))''', 6)} + 0.0 AS z
               FROM w WHERE m >= 12)
    SELECT etype, bucket, n, z FROM z WHERE var > 0 AND abs(z) >= 2
    """,
)
def q121_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomalies against a trailing baseline: the rolling window
    aggregates integer counts (exact sums / sum-of-squares / n), so the
    z-scores are partition-order independent — a rolling stddev would
    accumulate floats in frame order
    (operators/behavior.hourly_anomalies)."""
    events = load_table(spark, sf_dir, "events")
    return hourly_anomalies(events, z_threshold=2.0, lookback=24, min_history=12)


# -- q122: directional shingle containment (subset/quote detection)
@query(
    "q122_containment_pairs",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS_P} AS toks FROM corpus),
         idx AS (SELECT DISTINCT doc_id AS did, unnest({_SHINGLES}) AS sh FROM t),
         sizes AS (SELECT did, CAST(count(*) AS BIGINT) AS sz FROM idx GROUP BY did),
         common AS (SELECT a.did AS da, b.did AS db, CAST(count(*) AS BIGINT) AS common
                    FROM idx a JOIN idx b ON a.sh = b.sh AND a.did < b.did
                    GROUP BY 1, 2),
         directed AS (SELECT da AS ida, db AS idb, common FROM common
                      UNION ALL
                      SELECT db AS ida, da AS idb, common FROM common)
    SELECT ida, idb, {bfround_sql('CAST(common AS DOUBLE) / sz', 6)} AS containment
    FROM directed JOIN sizes ON sizes.did = directed.ida
    WHERE sz >= 5 AND {bfround_sql('CAST(common AS DOUBLE) / sz', 6)} >= 0.9
    """,
)
def q122_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A∩B|/|A| >= 0.9 pairs, both directions: a short doc pasted into
    a long one scores near-zero Jaccard but containment ~1.0.  Same
    inverted-index plan family as q32 (df-cap gate applies identically
    at scale) (operators/dedup.containment_pairs)."""
    return containment_pairs(_planted_corpus(spark, sf_dir), threshold=0.9, n=3)


# -- q123: per-source token-distribution drift (KL divergence)
@query(
    "q123_token_drift",
    f"""
    WITH tok AS (SELECT source AS src, (doc_id % 2 = 0) AS is_a,
                        unnest({_LTOKS}) AS w
                 FROM documents),
         counts AS (SELECT src, is_a, w, CAST(count(*) AS BIGINT) AS c
                    FROM tok GROUP BY 1, 2, 3),
         a AS (SELECT src, w, c AS ca FROM counts WHERE is_a),
         b AS (SELECT src, w, c AS cb FROM counts WHERE NOT is_a),
         merged AS (SELECT COALESCE(a.src, b.src) AS src, COALESCE(a.w, b.w) AS w,
                           COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
                    FROM a FULL OUTER JOIN b ON a.src = b.src AND a.w = b.w),
         per AS (SELECT src, CAST(sum(ca) AS BIGINT) AS na,
                        CAST(sum(cb) AS BIGINT) AS nb,
                        CAST(count(*) AS BIGINT) AS v
                 FROM merged GROUP BY src),
         c AS (SELECT m.src,
                      CAST({bfround_sql('''(CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
                                 * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
                                      / (CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)))
                                 * 1e12''', 0)} AS BIGINT) AS k_fp
               FROM merged m JOIN per USING (src))
    SELECT c.src AS source, max(per.v) AS n_terms,
           {bfround_sql('CAST(sum(k_fp) AS DOUBLE) / 1e12', 6)} AS kl
    FROM c JOIN per ON per.src = c.src
    GROUP BY c.src
    """,
)
def q123_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift per source: smoothed KL between even/odd doc
    populations; per-term contributions snap to pico fixed point before
    the per-source integer sum (operators/curation.token_drift_kl)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return token_drift_kl(docs)
