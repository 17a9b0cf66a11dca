"""M26 — entity resolution, incremental view maintenance, skyline,
session path analysis (round 3, ninth wave).

q129 is blocked fuzzy name matching (the dictionary→block→verify shape
that replaces an O(n^2) similarity cross join); q130 maintains a
grouped aggregate by applying a CDC delta and must be bit-identical to
recomputing from the new snapshot — the oracle IS that recomputation;
q131 is a 2-D Pareto skyline done with a per-gain pre-aggregate plus a
50-row window instead of the quadratic dominance join; q132 counts
consecutive event-type trigram paths within gap-sessions using a
single-shuffle lead window.

Registered after m25 — outside round 3's 50-query window; round-4
rotation: m18-m26 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.behavior import consecutive_paths
from ..operators.ivm import maintain_group_totals
from ..operators.linkage import name_variant_pairs
from ..operators.pareto import skyline_2d
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_CENTS = f"CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT)"


# -- q129: blocked edit-distance matching over the name dictionary
@query(
    "q129_name_variants",
    """
    WITH names AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n,
                          split_part(p_name, ' ', 2) AS blk
                   FROM part GROUP BY 1)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 4
    """,
)
def q129_name_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-name pairs blocked on the head noun: the quadratic step
    runs on the distinct-name dictionary (64 names at any SF), never
    the row stream; levenshtein verifies JVM-side on blocked candidates
    only (operators/linkage.name_variant_pairs)."""
    part = load_table(spark, sf_dir, "part")
    return name_variant_pairs(
        part, "p_name", F.split(F.col("name"), " ").getItem(1), max_dist=4
    )


# -- q130: CDC-delta-maintained grouped totals == recompute-from-new
@query(
    "q130_ivm_totals",
    f"""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 11 != 3
    GROUP BY 1
    """,
)
def q130_ivm_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-maintainable SUM/COUNT view: old snapshot (missing the %7
    keys, %5 keys carrying a synthetic priority) is corrected to the
    new snapshot (%11 keys deleted) purely by retract/apply deltas over
    the CDC changed-key set; the oracle recomputes from new directly —
    exact-cents integers make the two bit-identical
    (operators/ivm.maintain_group_totals)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = bfround(F.col("o_totalprice") * 100).cast("long")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        cents.alias("cents"),
    )
    old = base.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "priority",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("9-SYNTH")).otherwise(
            F.col("priority")
        ),
    )
    new = base.filter(F.col("o_orderkey") % 11 != 3)
    return maintain_group_totals(
        old, new, keys=["o_orderkey"], group_col="priority", cents_col=F.col("cents")
    )


# -- q131: 2-D skyline (min price, max size) without the O(n^2) join
@query(
    "q131_skyline_parts",
    f"""
    WITH t AS (SELECT p_partkey, p_size,
                      CAST({bfround_sql('p_retailprice * 100', 0)} AS BIGINT) AS c
               FROM part)
    SELECT p.p_partkey, p.p_size, p.c AS cost_cents
    FROM t p
    WHERE NOT EXISTS (SELECT 1 FROM t q
                      WHERE q.c <= p.c AND q.p_size >= p.p_size
                        AND (q.c < p.c OR q.p_size > p.p_size))
    """,
)
def q131_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier over (price asc, size desc): per-size min-cents
    pre-aggregate (50 rows) + one tiny window + a broadcast join back —
    the oracle states the textbook quadratic NOT EXISTS dominance
    definition, proving the linear plan computes the same frontier
    (operators/pareto.skyline_2d)."""
    part = load_table(spark, sf_dir, "part")
    out = skyline_2d(
        part,
        cost_col=bfround(F.col("p_retailprice") * 100).cast("long"),
        gain_col="p_size",
        carry=["p_partkey"],
    )
    return out.withColumnRenamed("gain", "p_size")


# -- q132: in-session consecutive event-type trigrams, single shuffle
@query(
    "q132_session_paths",
    """
    WITH seq AS (SELECT event_type AS e0, epoch_us(ts) AS t0,
                        lead(event_type, 1) OVER w AS e1,
                        epoch_us(lead(ts, 1) OVER w) AS t1,
                        lead(event_type, 2) OVER w AS e2,
                        epoch_us(lead(ts, 2) OVER w) AS t2
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e0, e1, e2, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq
    WHERE e2 IS NOT NULL
      AND t1 - t0 <= 1800000000 AND t2 - t1 <= 1800000000
    GROUP BY 1, 2, 3
    """,
)
def q132_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram path frequencies within 30-min gap-sessions: a run of
    consecutive events is in-session iff every internal gap is under
    the threshold, so lead() over ONE user_id partitioning replaces
    sessionize-then-rewindow — one exchange instead of two
    (operators/behavior.consecutive_paths)."""
    events = load_table(spark, sf_dir, "events")
    return consecutive_paths(events, gap_minutes=30, length=3)
