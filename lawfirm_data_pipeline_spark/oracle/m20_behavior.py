"""M20 — behavioral event analytics + collocations (round 3, third wave).

q111 is a strict-sequence funnel (first view -> first click after it ->
first purchase after that) computed with stacked conditional-min windows
over ONE user_id exchange; q112 is weekly cohort retention (first-touch
cohort x week offset); q113 is top-k adjacent-token collocations by PMI
with exact integer inputs to the single log.

Registered after m19 — outside round 3's 50-query driver window;
rotation: m18-m20 register first in round 4 (m18 docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..operators.behavior import cohort_retention, funnel_steps
from ..operators.text import pmi_bigrams
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"


# -- q111: strict-order funnel view -> click -> purchase
@query(
    "q111_event_funnel",
    f"""
    WITH f AS (SELECT user_id, ts, event_type FROM events
               WHERE event_type IN ('view', 'click', 'purchase')),
         w0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                          OVER (PARTITION BY user_id) AS t0 FROM f),
         w1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
                          OVER (PARTITION BY user_id) AS t1 FROM w0),
         w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
                          OVER (PARTITION BY user_id) AS t2 FROM w1),
         pu AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
                FROM w2 GROUP BY user_id),
         c AS (SELECT CAST(count(t0) AS BIGINT) AS n0,
                      CAST(count(t1) AS BIGINT) AS n1,
                      CAST(count(t2) AS BIGINT) AS n2 FROM pu)
    SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users,
           {bfround_sql('CAST(n0 AS DOUBLE) / n0', 6)} AS conversion FROM c
    UNION ALL
    SELECT 1, 'click', n1, {bfround_sql('CAST(n1 AS DOUBLE) / n0', 6)} FROM c
    UNION ALL
    SELECT 2, 'purchase', n2, {bfround_sql('CAST(n2 AS DOUBLE) / n0', 6)} FROM c
    """,
)
def q111_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel: three conditional-min windows share one
    partitionBy(user) exchange (no event-table self-joins); the scan is
    pre-filtered to funnel types (operators/behavior.funnel_steps)."""
    events = load_table(spark, sf_dir, "events")
    return funnel_steps(events, ["view", "click", "purchase"])


# -- q112: weekly cohort retention
@query(
    "q112_cohort_retention",
    """
    WITH firsts AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
         c AS (SELECT user_id, date_trunc('week', first_ts) AS cohort_week FROM firsts),
         a AS (SELECT user_id, date_trunc('week', ts) AS w FROM events)
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', CAST(c.cohort_week AS DATE), CAST(a.w AS DATE)) / 7
                AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM a JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q112_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch weekly cohorts x activity-week offsets; two
    aggregations sharing the user_id shuffle key, output O(cohorts x
    offsets) (operators/behavior.cohort_retention)."""
    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events)


# -- q113: top-k collocations by PMI (min bigram count 25)
@query(
    "q113_pmi_collocations",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
               FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
               WHERE len(toks) >= 2),
         big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
                 FROM b GROUP BY w1, w2),
         tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM big),
         l AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_l FROM big GROUP BY w1),
         r AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_r FROM big GROUP BY w2)
    SELECT big.w1, big.w2, c_ab,
           {bfround_sql('''ln(CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(c_l AS DOUBLE) * CAST(c_r AS DOUBLE)))''', 6)} + 0.0 AS pmi
    FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
    WHERE c_ab >= 25
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def q113_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: marginals aggregate FROM the bigram table
    (vocabulary-sized, broadcast back) so the corpus is scanned once;
    the only float op is one log over exact integers
    (operators/text.pmi_bigrams)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    out = pmi_bigrams(docs, min_count=25, k=20)
    return out.withColumn("pmi", F.col("pmi") + F.lit(0.0))
