"""M21 — multi-join analytics, constraint audits, robust stats, bigram
LM (round 3, fourth wave).

q114 is the TPC-H Q5-shaped local-supplier revenue query — the
join-ordering/broadcast showcase (5 joins: two broadcast dims, two
fact-fact shuffles); q115 turns the reference's Postgres DDL
constraints (unique indexes, FKs, enum domains — migration.sql:79-103,
scrapeWebsite.ts:22-152) into lake-side audit queries; q116 is
per-group winsorization with exact percentile bounds and fixed-point
clipped means; q117 scores documents under the corpus's own
add-one-smoothed bigram LM (the perplexity-proxy step above q58's
unigram model).

Registered after m20 — outside round 3's 50-query window; rotation:
m18-m21 register first in round 4 (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.constraints import (
    constraint_audit,
    domain_violations,
    fk_orphans,
    uniqueness_violations,
)
from ..operators.curation import winsorized_stats
from ..operators.text import bigram_logprob_scores
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"


# -- q114: local-supplier revenue per nation (TPC-H Q5 shape)
@query(
    "q114_supply_chain",
    f"""
    WITH rev AS (
        SELECT n.n_name,
               CAST({bfround_sql('l.l_extendedprice * (1 - l.l_discount) * 100', 0)}
                    AS BIGINT) AS fp
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
                     AND s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
           {bfround_sql('CAST(sum(fp) AS DOUBLE) / 100', 2)} AS revenue
    FROM rev GROUP BY n_name
    """,
)
def q114_supply_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems where customer and supplier share a
    nation in one region — 5 joins in one plan: nation/region/supplier
    broadcast (tiny dims), orders⋈lineitem as the one real shuffle
    pair, date filter pushed to the orders scan.  Revenue snaps to
    integer cents per row before summing (exact, order-independent)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(n),
            (c["c_nationkey"] == n["n_nationkey"])
            & (s["s_nationkey"] == n["n_nationkey"]),
        )
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        joined.select(
            "n_name",
            bfround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("fp"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            bfround(F.sum("fp").cast("double") / 100, 2).alias("revenue"),
        )
    )


# -- q115: constraint audit (reference DDL parity)
@query(
    "q115_constraint_audit",
    """
    SELECT 'orders_pk_unique' AS chk,
           CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
                 GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem_pk_unique',
           CAST((SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
                 GROUP BY 1, 2 HAVING count(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST((SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'events_type_domain',
           CAST((SELECT count(*) FROM events WHERE event_type IS NOT NULL
                 AND event_type NOT IN ('view', 'click', 'purchase')) AS BIGINT)
    """,
)
def q115_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DB-enforced invariants (unique indexes, FKs,
    enum domains) as lake-side audit queries: each check collapses to
    one (check, n_violations) row before the union
    (operators/constraints.py).  The domain check is deliberately
    narrower than the data (view/click/purchase) so the audit proves it
    DETECTS violations, not just confirms clean tables."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return constraint_audit(
        {
            "orders_pk_unique": uniqueness_violations(orders, ["o_orderkey"]),
            "lineitem_pk_unique": uniqueness_violations(
                lineitem, ["l_orderkey", "l_linenumber"]
            ),
            "orders_custkey_fk": fk_orphans(orders, "o_custkey", customer, "c_custkey"),
            "lineitem_orderkey_fk": fk_orphans(
                lineitem, "l_orderkey", orders, "o_orderkey"
            ),
            "events_type_domain": domain_violations(
                events, "event_type", ["view", "click", "purchase"]
            ),
        }
    ).withColumnRenamed("check", "chk")


# -- q116: per-type winsorized value stats on events
@query(
    "q116_winsorized_stats",
    f"""
    WITH b AS (SELECT event_type,
                      {bfround_sql('quantile_cont(value, 0.01) * 1e6', 0)} / 1e6 AS lo,
                      {bfround_sql('quantile_cont(value, 0.99) * 1e6', 0)} / 1e6 AS hi
               FROM events GROUP BY event_type),
         c AS (SELECT e.event_type, lo, hi,
                      least(greatest(value, lo), hi) AS v,
                      CASE WHEN value < lo THEN 1 ELSE 0 END AS low,
                      CASE WHEN value > hi THEN 1 ELSE 0 END AS high
               FROM events e JOIN b USING (event_type))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           {bfround_sql('max(lo)', 4)} AS p_low,
           {bfround_sql('max(hi)', 4)} AS p_high,
           CAST(sum(low) AS BIGINT) AS n_clipped_low,
           CAST(sum(high) AS BIGINT) AS n_clipped_high,
           {bfround_sql(f'''CAST(sum(CAST({bfround_sql('v * 1e6', 0)} AS BIGINT)) AS DOUBLE)
                 / 1e6 / count(*)''', 4)} AS clipped_mean
    FROM c GROUP BY event_type
    """,
)
def q116_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust per-group value profile: exact interpolated
    percentile bounds (one aggregate), broadcast back for the clip
    pass, clipped values snapped to micro fixed point before the mean
    (operators/curation.winsorized_stats)."""
    events = load_table(spark, sf_dir, "events")
    return winsorized_stats(events, "event_type", "value", 0.01, 0.99)


# -- q117: per-doc bigram-LM score (add-one smoothing)
@query(
    "q117_bigram_lm",
    f"""
    WITH t AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
         db AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
                WHERE len(toks) >= 2),
         dbc AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
                 FROM db GROUP BY 1, 2, 3),
         cb AS (SELECT w1, w2, CAST(sum(cnt) AS BIGINT) AS c12
                FROM dbc GROUP BY 1, 2),
         cl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY 1),
         v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM cb),
         lp AS (SELECT w1, w2,
                       CAST({bfround_sql('''ln(CAST(c12 + 1 AS DOUBLE)
                                     / CAST(c1 + v AS DOUBLE)) * 1e9''', 0)} AS BIGINT)
                       AS lp_fp
                FROM cb JOIN cl USING (w1) CROSS JOIN v),
         doc AS (SELECT doc_id, sum(cnt * lp_fp) AS s,
                        CAST(sum(cnt) AS BIGINT) AS nbig
                 FROM dbc JOIN lp USING (w1, w2) GROUP BY doc_id)
    SELECT doc_id, nbig,
           {bfround_sql('CAST(s AS DOUBLE) / 1e9 / nbig', 6)} AS avg_bigram_logp
    FROM doc
    """,
)
def q117_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word salad with plausible unigrams but impossible transitions
    scores low under the corpus's own smoothed bigram model; the per-doc
    bigram count table persists once for both the model derivation and
    the scoring join (operators/text.bigram_logprob_scores)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return bigram_logprob_scores(docs)
