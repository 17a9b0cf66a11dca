"""M29 — ML-ops audits and market-basket rules (round 3, twelfth wave).

q141 audits a temporal train/test split for user-level leakage (the
check that catches "same user on both sides of the cutoff" before a
model trains on it); q142 mines directed association rules with
support/confidence/lift from exact integer counts; q143 measures
tokenizer fertility (chars per token) per language — the statistic
that decides byte- vs word-level tokenization per corpus slice; q144
is the signup->purchase conversion-lag distribution (p50/p90 on an
integer-microsecond grid).

Registered after m28 — outside round 3's 50-query window; round-4
rotation: m18-m29 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.itemsets import association_rules
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_CUTOFF = "2024-01-16"


# -- q141: temporal split leakage audit
@query(
    "q141_split_leakage",
    f"""
    WITH u AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx,
                      CAST(count(*) AS BIGINT) AS ne
               FROM events GROUP BY 1)
    SELECT CASE WHEN mx < TIMESTAMP '{_CUTOFF}' THEN 'train_only'
                WHEN mn >= TIMESTAMP '{_CUTOFF}' THEN 'test_only'
                ELSE 'spanning' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(ne) AS BIGINT) AS n_events
    FROM u GROUP BY 1
    """,
)
def q141_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users bucketed by position relative to the split cutoff: a
    'spanning' user leaks future behavior into training.  One grouped
    min/max/count then a constant-cardinality re-aggregation — no
    window, no join."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    u = events.groupBy("user_id").agg(
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("ne"),
    )
    return (
        u.select(
            F.when(F.col("mx") < cutoff, F.lit("train_only"))
            .when(F.col("mn") >= cutoff, F.lit("test_only"))
            .otherwise(F.lit("spanning"))
            .alias("bucket"),
            "ne",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("ne").cast("long").alias("n_events"),
        )
    )


# -- q142: association rules with support/confidence/lift
@query(
    "q142_association_rules",
    f"""
    WITH items AS MATERIALIZED (
            SELECT ok, pk
            FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
            QUALIFY count(*) OVER (PARTITION BY ok) <= 4096),
         nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS nb FROM items),
         sup AS MATERIALIZED (
            SELECT pk, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
         pairs AS MATERIALIZED (
            SELECT a.pk AS x, b.pk AS y, CAST(count(*) AS BIGINT) AS sab
            FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2 HAVING count(*) >= 3),
         directed AS (SELECT x AS ante, y AS cons, sab FROM pairs
                      UNION ALL
                      SELECT y AS ante, x AS cons, sab FROM pairs)
    SELECT ante, cons, sab AS support,
           {bfround_sql('CAST(sab AS DOUBLE) / CAST(sa.s AS DOUBLE)', 6)} AS confidence,
           {bfround_sql('CAST(sab * nb.nb AS DOUBLE) / CAST(sa.s * sb.s AS DOUBLE)', 6)} AS lift
    FROM directed
    JOIN sup sa ON sa.pk = directed.ante
    JOIN sup sb ON sb.pk = directed.cons
    CROSS JOIN nb
    """,
)
def q142_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed pair rules at min-support 3: bounded per-basket
    self-join for pair counts, integer supports, one float division
    per metric (operators/itemsets.association_rules)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")),
        min_support=3,
    )


# -- q143: tokenizer fertility (chars per token) by language
@query(
    "q143_token_fertility",
    f"""
    WITH t AS (SELECT lang, CAST(length(text) AS BIGINT) AS nch,
                      CAST(len(list_filter(str_split_regex(trim(text), '\\s+'),
                                           x -> x != '')) AS BIGINT) AS ntok
               FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nch) AS BIGINT) AS total_chars,
           CAST(sum(ntok) AS BIGINT) AS total_tokens,
           {bfround_sql('CAST(sum(nch) AS DOUBLE) / CAST(sum(ntok) AS DOUBLE)', 6)}
             AS chars_per_token
    FROM t GROUP BY 1
    """,
)
def q143_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chars-per-token by language from exact integer char/token sums —
    the fertility statistic that sizes tokenizer vocab per corpus
    slice.  Single scan, map-side-combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    t = docs.select(
        "lang",
        F.length("text").cast("long").alias("nch"),
        F.size(toks).cast("long").alias("ntok"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nch").cast("long").alias("total_chars"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        bfround(F.sum("nch").cast("double") / F.sum("ntok").cast("double"), 6).alias("chars_per_token"),
    )


# -- q144: signup -> first-purchase conversion lag percentiles
@query(
    "q144_time_to_convert",
    f"""
    WITH s AS (SELECT user_id,
                      min(CASE WHEN event_type = 'signup' THEN ts END) AS st
               FROM events GROUP BY 1),
         conv AS (SELECT e.user_id,
                         epoch_us(min(e.ts)) - epoch_us(min(s.st)) AS delta_us
                  FROM events e JOIN s USING (user_id)
                  WHERE e.event_type = 'purchase'
                    AND s.st IS NOT NULL AND e.ts >= s.st
                  GROUP BY e.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           -- binary-floor 6dp rounding (see q266): engine round()s
           -- split on decimal-half ties of midpoint percentiles
           {bfround_sql('quantile_cont(delta_us, 0.5) / 1000000.0', 6)} AS p50_sec,
           {bfround_sql('quantile_cont(delta_us, 0.9) / 1000000.0', 6)} AS p90_sec
    FROM conv
    """,
)
def q144_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag from first signup to first subsequent purchase, p50/p90:
    percentile interpolation runs on an exact integer-microsecond
    grid, then one division and a shared rounding — both engines use
    index = (n-1)*q over identical sorted integers."""
    events = load_table(spark, sf_dir, "events")
    s = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("st")
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("st").isNotNull() & (F.col("ts") >= F.col("st")))
        .groupBy("user_id")
        .agg(
            (F.unix_micros(F.min("ts")) - F.unix_micros(F.min("st"))).alias("delta_us")
        )
    )
    def _sec6(expr: str):
        return bfround(F.expr(expr) / 1000000.0, 6)

    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        _sec6("percentile(delta_us, 0.5)").alias("p50_sec"),
        _sec6("percentile(delta_us, 0.9)").alias("p90_sec"),
    )
