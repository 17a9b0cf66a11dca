"""M11 — SQL-surface kit: conditional aggregation, batch sessionization,
explicit window frames, array/string scalar kits, correlated-aggregate
filters, fixed-width histograms, and the IVF ANN path.

These widen the engine past the reference's Prisma surface (SURVEY.md
§2.C lists the gaps) with the analytics shapes a warehouse user expects.
Float discipline follows m7: hash-gated aggregates are integer (cents)
sums or round(6) deterministic scalars, so accumulation order never
matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.similarity import (
    ann_recall_gate,
    brute_force_topk,
    ivf_topk,
    ivf_train_centroids,
)
from ..queries import query
from ._shared import BRUTE_FORCE_TOP10_SQL
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# The coarse quantizer is a build artifact: at scale you train it once
# and serve many queries from it.  Memoize per (sf_dir, K) so q69/q69b
# share one training pass (the centroid matrix is K×dim plain floats —
# driver-safe).
_IVF_CENTROIDS: dict[tuple[str, int], list[list[float]]] = {}


def _centroids(spark: SparkSession, sf_dir: str, n_centroids: int = 16) -> list[list[float]]:
    key = (sf_dir, n_centroids)
    if key not in _IVF_CENTROIDS:
        emb = load_table(spark, sf_dir, "embeddings")
        _IVF_CENTROIDS[key] = ivf_train_centroids(emb, n_centroids=n_centroids)
    return _IVF_CENTROIDS[key]

_CENTS = f"CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT)"


# -- q62: conditional aggregation (FILTER/CASE-WHEN per-group slices)
@query(
    "q62_conditional_agg",
    f"""
    SELECT o_orderpriority,
           count(*) AS n_total,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN {_CENTS} END), 0) AS BIGINT)
               AS open_cents,
           {bfround_sql('''sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
                 * 1.0 / count(*)''', 6)} AS high_value_ratio
    FROM orders GROUP BY o_orderpriority
    """,
)
def q62_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many filtered aggregates in ONE pass (one scan, one shuffle) —
    the alternative of N filtered sub-queries scans the table N times."""
    orders = load_table(spark, sf_dir, "orders")
    cents = bfround(F.col("o_totalprice") * 100).cast("long")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "O", cents)), F.lit(0)
        ).alias("open_cents"),
        bfround(F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0))
            / F.count(F.lit(1)), 6).alias("high_value_ratio"),
    )


# -- q63: batch sessionization (gap > 30 min starts a new session)
_SESSION_SQL = """
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id % 7 = 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tagged AS (
        SELECT user_id, ts, event_id,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM seq
    )
    SELECT user_id, session_idx,
           count(*) AS n_events,
           min(ts) AS start_ts,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM tagged GROUP BY user_id, session_idx
"""


@query("q63_sessionize", _SESSION_SQL)
def q63_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a batch op (the streaming twin is the
    session window in q24): lag + cumulative-sum session ids, then one
    per-session aggregate.  All three window/agg steps share the
    user_id partitioning — one shuffle total."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    seq = events.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    tagged = seq.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return tagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


# -- q64: explicit window frames (moving + cumulative over ROWS frames)
@query(
    "q64_window_frames",
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(sum({_CENTS}) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate NULLS FIRST, o_orderkey
                                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS moving4_cents,
           CAST(sum({_CENTS}) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate NULLS FIRST, o_orderkey
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
           {bfround_sql(f'''avg({_CENTS}) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate NULLS FIRST, o_orderkey
                                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                 / 100.0''', 6)} AS moving4_avg
    FROM orders WHERE o_custkey % 11 = 0
    """,
)
def q64_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame running metrics; explicit frames (never the default
    RANGE frame) so ties can't make results engine-dependent.  All three
    frames share one window spec → one sort within one shuffle."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 11 == 0)
    cents = bfround(F.col("o_totalprice") * 100).cast("long")
    order = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    moving = order.rowsBetween(-3, 0)
    cum = order.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(moving).alias("moving4_cents"),
        F.sum(cents).over(cum).alias("cum_cents"),
        bfround(F.avg(cents).over(moving) / 100.0, 6).alias("moving4_avg"),
    )


# -- q65: array function kit over tokenized documents
@query(
    "q65_array_kit",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           len(words) AS n_words,
           array_to_string(list_slice(words, 1, 3), '|') AS first3,
           list_contains(words, 'the') AS has_the,
           array_to_string(list_slice(list_sort(list_distinct(words)), 1, 3), '|')
               AS distinct3,
           array_to_string(list_reverse(list_slice(words, 1, 3)), '|') AS rev3
    FROM t
    """,
)
def q65_array_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction / slice / membership / distinct-sort /
    reverse — all JVM-side expressions on a split column; no explode, no
    shuffle (pure map stage, pushdown-friendly at any scale)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    words = F.split("text", " ")
    t = docs.select("doc_id", words.alias("words"))
    return t.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.array_join(F.slice("words", 1, 3), "|").alias("first3"),
        F.array_contains("words", "the").alias("has_the"),
        F.array_join(F.slice(F.sort_array(F.array_distinct("words")), 1, 3), "|").alias(
            "distinct3"
        ),
        F.array_join(F.reverse(F.slice("words", 1, 3)), "|").alias("rev3"),
    )


# -- q66: string function kit over customer
@query(
    "q66_string_kit",
    """
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           length(c_name) AS name_len,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(c_name) AS name_rev,
           levenshtein(c_mktsegment, 'BUILDING') AS lev_building,
           strpos(c_name, '#') AS hash_pos,
           replace(c_name, '#', '-') AS name_dashed,
           substr(c_name, 1, 8) AS name_prefix
    FROM customer WHERE c_custkey % 13 = 0
    """,
)
def q66_string_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string kit (case, pad, reverse, edit distance, find,
    replace, substring) — mirrors the reference's scalar cleanup surface
    (SURVEY §2.A13-A14) at warehouse breadth.  Pure projection."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 == 0)
    return cust.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse("c_name").alias("name_rev"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev_building"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
    )


# -- q67: correlated-aggregate filter (orders above their customer's avg)
@query(
    "q67_above_cust_avg",
    f"""
    WITH w AS (
        SELECT o_orderkey, o_custkey, {_CENTS} AS cents,
               sum({_CENTS}) OVER (PARTITION BY o_custkey) AS tot,
               count(*) OVER (PARTITION BY o_custkey) AS n
        FROM orders
    )
    SELECT o_orderkey, o_custkey, cents
    FROM w WHERE cents * n > tot AND n >= 3
    """,
)
def q67_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated scalar-subquery shape (`price > AVG per customer`)
    as a single windowed pass — no self-join, one shuffle on the
    correlation key.  `cents*n > tot` keeps the comparison in exact
    integer space (no float average crosses the gate)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = bfround(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey")
    df = orders.select(
        "o_orderkey",
        "o_custkey",
        cents.alias("cents"),
        F.sum(cents).over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return df.filter((F.col("cents") * F.col("n") > F.col("tot")) & (F.col("n") >= 3)).select(
        "o_orderkey", "o_custkey", "cents"
    )


# -- q68: fixed-width histogram (width_bucket shape, integer arithmetic)
@query(
    "q68_histogram",
    f"""
    SELECT least({_CENTS} // 5000000, 9) AS bucket,
           count(*) AS n, CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders GROUP BY 1
    """,
)
def q68_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram ($50k buckets, top bucket open) —
    integer `div` bucketing keeps edges exact in both engines.  Shape
    survives 100 TB: the groupBy key has ≤10 values, so partial
    (map-side) aggregation collapses everything before the shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cents = bfround(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.select(
            F.least(F.expr(f"{_CENTS} div 5000000"), F.lit(9).cast("long")).alias("bucket"),
            cents.alias("cents"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )


# -- q69: IVF ANN top-k, exhaustive probe (nprobe = n_centroids) — every
#    inverted list is probed, so the result is provably identical to
#    brute force (tests/test_ann_paths.py asserts the equivalence) and
#    the full training→assign→probe→re-rank machinery gets a value-level
#    DuckDB gate.  q69b keeps the approximate nprobe path in the bench.
@query("q69_ivf_ann_topk", BRUTE_FORCE_TOP10_SQL)
def q69_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN (charter §2.C "IVF or LSH-bucketed
    variant"): deterministic md5-sampled seeds + one distributed Lloyd
    step train the coarse quantizer; exhaustive probe ≡ brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(
        emb, queries, k=10, n_centroids=16, nprobe=16,
        centroids=_centroids(spark, sf_dir),
    )


@query(
    "q69b_ivf_ann_nprobe",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(10 AS BIGINT) AS min_n_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def q69b_ivf_ann_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate IVF path (nprobe=8 of 16 lists — the plan that
    runs at scale), VALUE-GATED via in-plan recall@10 against the
    brute-force twin (r3 verdict #3 — was rows-only): one row pinning
    the contract (8 queries answered, 10 results each, mean recall
    >= 0.65).  Mean recall measured 0.76-0.81 across sf0.001-0.1 with
    the deterministic md5-seeded quantizer; tests/test_ann_paths.py
    keeps the tighter per-run assert."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = ivf_topk(
        emb, queries, k=10, n_centroids=16, nprobe=8,
        centroids=_centroids(spark, sf_dir),
    )
    exact = brute_force_topk(emb, queries, k=10)
    return ann_recall_gate(approx, exact, k=10, threshold=0.65)
