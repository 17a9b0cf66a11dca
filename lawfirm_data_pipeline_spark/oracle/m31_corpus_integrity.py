"""M31 — corpus-law fits, vocabulary health, imputation, content
checksums (round 3, fourteenth wave).

q148 fits Zipf's law per source (synthetic/templated text shows up as
a broken slope); q149 tracks vocabulary size / hapax ratio (Heaps'-law
inputs); q150 median-imputes a deterministically-nullified measure and
audits the result; q151 computes order-independent table content
checksums — the snapshot-equality check a replication job runs without
moving rows.

Registered after m30 — outside round 3's 50-query window; round-4
rotation: m18-m31 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.profile import table_checksum
from ..operators.stats import impute_group_median_audit
from ..operators.text import vocab_stats, zipf_fit
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q148: Zipf slope per source
@query(
    "q148_zipf_fit",
    f"""
    WITH freq AS (SELECT g, w, CAST(count(*) AS BIGINT) AS f
                  FROM (SELECT source AS g, unnest({_LTOKS}) AS w FROM documents)
                  GROUP BY 1, 2),
         ranked AS (SELECT g, w, f,
                           row_number() OVER (PARTITION BY g
                                              ORDER BY f DESC, w) AS r
                    FROM freq),
         t AS (SELECT g,
                      CAST({bfround_sql('ln(CAST(r AS DOUBLE)) * 1000000.0', 0)} AS BIGINT) AS x,
                      CAST({bfround_sql('ln(CAST(f AS DOUBLE)) * 1000000.0', 0)} AS BIGINT) AS y
               FROM ranked),
         agg AS (SELECT g, CAST(count(*) AS BIGINT) AS m,
                        sum(x) AS sx, sum(y) AS sy,
                        sum(x * x) AS sx2, sum(x * y) AS sxy
                 FROM t GROUP BY g)
    SELECT g AS source, m AS vocab_size,
           {bfround_sql('''CAST(m * sxy - sx * sy AS DOUBLE)
                 / CAST(m * sx2 - sx * sx AS DOUBLE)''', 6)} AS zipf_slope
    FROM agg
    """,
)
def q148_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln(freq) ~ ln(rank) OLS per source: rank windows over the
    per-source vocabulary, per-row ln terms snapped to micro fixed
    point, co-moments summed as decimal(38) integers — one final
    division decides the slope (operators/text.zipf_fit)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return zipf_fit(docs)


# -- q149: vocabulary / hapax health per source
@query(
    "q149_vocab_stats",
    f"""
    WITH freq AS (SELECT g, w, CAST(count(*) AS BIGINT) AS f
                  FROM (SELECT source AS g, unnest({_LTOKS}) AS w FROM documents)
                  GROUP BY 1, 2)
    SELECT g AS source, CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           {bfround_sql('CAST(count(*) AS DOUBLE) / CAST(sum(f) AS DOUBLE)', 6)}
             AS type_token_ratio,
           {bfround_sql('''CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)''', 6)} AS hapax_ratio
    FROM freq GROUP BY g
    """,
)
def q149_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type/token and hapax ratios per source — the vocabulary-growth
    numbers a crawl monitor plots; two stacked combinable aggregations
    (operators/text.vocab_stats)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return vocab_stats(docs)


# -- q150: per-group median imputation audit
@query(
    "q150_impute_audit",
    f"""
    WITH t AS (SELECT event_type,
                      CASE WHEN event_id % 13 = 0 THEN NULL
                           ELSE CAST({bfround_sql('value * 100', 0)} AS BIGINT) END AS cents
               FROM events),
         med AS (SELECT event_type, CAST(median(cents) AS DOUBLE) AS med_cents
                 FROM t GROUP BY 1),
         j AS (SELECT t.event_type, med.med_cents, t.cents,
                      CASE WHEN t.cents IS NULL
                           THEN CAST({bfround_sql('med.med_cents * 2', 0)} AS BIGINT)
                           ELSE t.cents * 2 END AS half
               FROM t JOIN med USING (event_type))
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           med_cents,
           {bfround_sql('(CAST(sum(half) AS DOUBLE) / 2.0) / CAST(count(*) AS DOUBLE)', 6)}
             AS mean_cents_after
    FROM j GROUP BY event_type, med_cents
    """,
)
def q150_impute_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nulls planted deterministically (event_id % 13) then median-
    imputed per type: medians land on the half-cent grid, so the
    post-imputation mean is one division of an exact half-cent integer
    sum (operators/stats.impute_group_median_audit)."""
    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            bfround(F.col("value") * 100).cast("long")
        ).alias("cents"),
    )
    return impute_group_median_audit(t, "event_type", "cents")


# -- q151: order-independent table content checksums
@query(
    "q151_table_checksum",
    """
    WITH o AS (SELECT ('0x' || substring(md5(concat_ws(chr(1),
                   coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
                   coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
                   coalesce(o_orderstatus, chr(0)),
                   coalesce(o_orderpriority, chr(0)))), 1, 8))::BIGINT
                 % 1000000007 AS v
               FROM orders),
         l AS (SELECT ('0x' || substring(md5(concat_ws(chr(1),
                   coalesce(CAST(l_orderkey AS VARCHAR), chr(0)),
                   coalesce(CAST(l_partkey AS VARCHAR), chr(0)),
                   coalesce(CAST(l_suppkey AS VARCHAR), chr(0)),
                   coalesce(CAST(l_linenumber AS VARCHAR), chr(0)),
                   coalesce(l_returnflag, chr(0)),
                   coalesce(l_linestatus, chr(0)))), 1, 8))::BIGINT
                 % 1000000007 AS v
               FROM lineitem)
    SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(v) AS BIGINT) AS checksum FROM o
    UNION ALL
    SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(v) AS BIGINT) AS checksum FROM l
    """,
)
def q151_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksums for two tables: per-row md5 residues mod 1e9+7
    summed — commutative, so any partitioning of the same row multiset
    (and any engine) agrees exactly; the cheap both-sides check before
    declaring two snapshots equal (operators/profile.table_checksum)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return table_checksum(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"], "orders"
    ).unionByName(
        table_checksum(
            lineitem,
            ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_returnflag", "l_linestatus"],
            "lineitem",
        )
    )
