"""M64 — round-4 wave 4: second SQL-surface kit — unpivot, map
aggregation, null-safe joins, decimal arithmetic, KMV sketch union.

Each query covers an engine surface a reference user would reach for
that no earlier registration exercises: wide→long reshaping
(``unpivot``), MapType aggregation, the ``<=>`` null-safe equi-join,
exact DECIMAL arithmetic (the audit-grade alternative to the repo's
integer-cents discipline), and a k-minimum-values distinct sketch
whose union estimate is value-gated with the q50 tolerance pattern.

Registered after m63 — outside the round-4 driver window; first driver
rows with the round-5 rotation.  Two-scale differential green at
registration; BASELINE.md rows same-commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q235: unpivot (wide metrics → long) with exact integer cells
@query(
    "q235_unpivot_metrics",
    f"""
    WITH w AS (SELECT o_orderpriority AS pri,
                      CAST(count(*) AS BIGINT) AS n_orders,
                      CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
                      CAST(sum(CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT))
                           AS BIGINT) AS cents
               FROM orders GROUP BY 1)
    SELECT pri, metric, value FROM w
    UNPIVOT (value FOR metric IN (n_orders, n_custs, cents))
    """,
)
def q235_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-priority metric table melted to (pri, metric, value)
    rows with the native ``unpivot`` — the wide→long reshape every
    metrics exporter needs; one aggregate then a zero-shuffle melt
    (unpivot is a generator projection, not an exchange)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = bfround(F.col("o_totalprice") * 100).cast("long")
    wide = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        F.sum(cents).cast("long").alias("cents"),
    )
    return wide.unpivot(
        ids=["pri"],
        values=["n_orders", "n_custs", "cents"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# -- q236: MapType aggregation (per-user event_type → count map)
@query(
    "q236_map_event_counts",
    """
    WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
               FROM events WHERE user_id % 9 = 0 GROUP BY 1, 2)
    SELECT user_id,
           string_agg(event_type || ':' || n, '|' ORDER BY event_type)
             AS type_counts,
           CAST(count(*) AS BIGINT) AS n_types
    FROM c GROUP BY user_id
    """,
)
def q236_map_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type histogram built AS A MAP
    (``map_from_entries`` over sorted entries), then serialized to a
    canonical string for the hash gate — exercises MapType
    construction/iteration, which no other registration touches.  The
    two-level aggregation is combinable at both levels; the map is
    per-user-bounded (≤ |event types|)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 9 == 0)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    entries = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    kv = F.transform(
        F.map_entries("m"), lambda e: F.concat_ws(":", e["key"], e["value"])
    )
    return entries.select(
        "user_id",
        F.array_join(kv, "|").alias("type_counts"),
        F.size(F.map_keys("m")).cast("long").alias("n_types"),
    )


# -- q237: null-safe equi-join (<=> / IS NOT DISTINCT FROM)
@query(
    "q237_null_safe_join",
    """
    WITH a AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 7 = 0 THEN NULL
                           ELSE o_orderpriority END AS k
               FROM orders WHERE o_orderkey % 3 = 0),
         b AS (SELECT o_orderpriority AS k, CAST(1 AS BIGINT) AS grp
               FROM (SELECT DISTINCT o_orderpriority FROM orders)
               UNION ALL SELECT NULL, CAST(99 AS BIGINT))
    SELECT coalesce(a.k, '<null>') AS k,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(b.grp) AS BIGINT) AS n_matched,
           CAST(sum(b.grp) AS BIGINT) AS grp_sum
    FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def q237_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (Spark ``<=>`` ≡ SQL IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of dropping — the semantics a
    dimension join needs when "unknown" is a real category.  Still a
    hash-partitionable equi-join (nulls co-locate like any other key
    value), unlike a null-tolerant theta join."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("k"),
    )
    b = (
        orders.select("o_orderpriority").distinct()
        .select(
            F.col("o_orderpriority").alias("bk"),
            F.lit(1).cast("long").alias("grp"),
        )
        .unionByName(
            orders.limit(1).select(
                F.lit(None).cast("string").alias("bk"),
                F.lit(99).cast("long").alias("grp"),
            )
        )
    )
    j = a.join(b, a["k"].eqNullSafe(b["bk"]), "left")
    return (
        j.groupBy(a["k"])
        .agg(
            F.coalesce(a["k"], F.lit("<null>")).alias("k2"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("grp").cast("long").alias("n_matched"),
            F.sum("grp").cast("long").alias("grp_sum"),
        )
        .select(F.col("k2").alias("k"), "n_rows", "n_matched", "grp_sum")
    )


# -- q238: exact DECIMAL arithmetic (audit-grade money path)
@query(
    "q238_decimal_totals",
    """
    SELECT o_orderpriority AS pri,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
             AS total_dec,
           CAST(CAST(avg(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,4)) AS VARCHAR) AS avg_dec
    FROM orders GROUP BY 1
    """,
)
def q238_decimal_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money aggregation in exact DECIMAL(18,2) — the audit-grade
    alternative to the repo's integer-cents discipline: Spark's decimal
    sum is exact and order-independent (128-bit intermediate), so the
    string rendering hash-matches DuckDB's decimal engine digit for
    digit.  Average re-quantized to DECIMAL(18,4) on both sides to pin
    the rounding point."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.sum(dec).cast("decimal(18,2)").cast("string").alias("total_dec"),
        F.avg(dec).cast("decimal(18,4)").cast("string").alias("avg_dec"),
    )


# -- q239: KMV distinct sketch + union estimate, tolerance-gated
_K = 256


@query(
    "q239_kmv_union",
    """
    WITH s AS (SELECT DISTINCT o_custkey FROM orders),
         l AS (SELECT DISTINCT l_suppkey * 10000 + l_partkey % 10000 AS k
               FROM lineitem WHERE l_orderkey % 2 = 0),
         u AS (SELECT CAST(count(*) AS BIGINT) AS exact_union FROM (
                 SELECT o_custkey AS v FROM s
                 UNION SELECT k FROM l))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS exact_a,
           (SELECT CAST(count(*) AS BIGINT) FROM l) AS exact_b,
           exact_union, true AS within_tol
    FROM u
    """,
)
def q239_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-minimum-values distinct sketch [Bar-Yossef et al. 2002]: keep
    the k smallest md5 hashes per set; |D| ≈ (k-1) / max_kth_frac, and
    the UNION sketch is just the k smallest of the merged minima —
    the mergeability that lets per-partition/per-day sketches roll up
    without rescanning.  Sketch values are md5-deterministic, but the
    gate follows the q50 pattern: emit the EXACT counts (hash-checked)
    plus a Spark-side tolerance verdict |est-exact|/exact ≤ 15% for
    all three estimates, pinned true by the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # each distinct set feeds FOUR consumers (its sketch — itself read
    # by both the estimate and the union sketch — plus the exact count
    # and the exact union); materialize once instead of re-running the
    # distinct shuffle per consumer.
    # r12 OPTIMIZATION (guide §2.3 "narrower types"): the pinned
    # sets and the exact-union shuffle carry 8-byte LONG keys; the
    # md5 string cast happens only inside the k-minima sketch (same
    # hash values — md5(CAST(v AS STRING)) is what both built before).
    # sf0.1 in-session A/B: 2.46 s → 2.05 s, match-verified.
    a = pin(orders.select(F.col("o_custkey").cast("long").alias("v")).distinct())
    b = pin(
        li.filter(F.col("l_orderkey") % 2 == 0)
        .select(
            (F.col("l_suppkey") * 10000 + F.col("l_partkey") % 10000)
            .cast("long")
            .alias("v")
        )
        .distinct()
    )

    def minima(df: DataFrame) -> DataFrame:
        # 64-bit hash from the md5 prefix; k smallest via one combinable
        # sort_array(collect) would skew — use approx path: per-partition
        # top-k then global top-k via two windows? A single agg of the k
        # smallest: collect via F.array_sort over aggregated small set is
        # unsafe at scale, so take min-k with a groupBy-free trick:
        # sort ascending and limit k — Spark plans a TakeOrdered (no full
        # sort materialization).
        h = F.conv(
            F.substring(F.md5(F.col("v").cast("string")), 1, 15), 16, 10
        ).cast("double")
        return df.select(h.alias("h")).orderBy("h").limit(_K)

    def est_of(m: DataFrame) -> DataFrame:
        # degenerate regime first: a sketch holding fewer than k values
        # IS the whole set, so the estimate is its exact size [KMV]
        return m.agg(
            F.when(
                F.count(F.lit(1)) < _K, F.count(F.lit(1)).cast("long")
            )
            .otherwise(
                (F.lit(float(_K - 1)) * F.lit(2.0**60) / F.max("h")).cast("long")
            )
            .alias("e")
        )

    # each sketch is read twice (estimate + union sketch) and is ≤ k
    # rows — pin them too
    ma = pin(minima(a))
    mb = pin(minima(b))
    # union sketch = k smallest of the merged minima (dedup first: the
    # same value hashing into both sketches must count once)
    union_minima = ma.unionByName(mb).distinct().orderBy("h").limit(_K)
    est_a = est_of(ma)
    est_b = est_of(mb)
    est_u = est_of(union_minima)
    exact_a = a.agg(F.count(F.lit(1)).cast("long").alias("xa"))
    exact_b = b.agg(F.count(F.lit(1)).cast("long").alias("xb"))
    exact_u = (
        a.unionByName(b).distinct().agg(F.count(F.lit(1)).cast("long").alias("xu"))
    )

    def ok(est_col, exact_col) -> F.Column:
        return (
            F.abs(est_col - exact_col) / exact_col.cast("double") <= 0.15
        )

    return (
        exact_a.crossJoin(exact_b)
        .crossJoin(exact_u)
        .crossJoin(F.broadcast(est_a.select(F.col("e").alias("ea"))))
        .crossJoin(F.broadcast(est_b.select(F.col("e").alias("eb"))))
        .crossJoin(F.broadcast(est_u.select(F.col("e").alias("eu"))))
        .select(
            F.col("xa").alias("exact_a"),
            F.col("xb").alias("exact_b"),
            F.col("xu").alias("exact_union"),
            (
                ok(F.col("ea"), F.col("xa"))
                & ok(F.col("eb"), F.col("xb"))
                & ok(F.col("eu"), F.col("xu"))
            ).alias("within_tol"),
        )
    )
