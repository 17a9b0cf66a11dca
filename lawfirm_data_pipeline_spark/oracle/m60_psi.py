"""M60 — population-stability index (round 3 closing wave).

q223 computes PSI between a reference population (week-1 events) and
the current population (the rest of the month) over value deciles —
the model-monitoring drift metric: PSI < 0.1 stable, 0.1-0.25 watch,
> 0.25 retrain.  q123's KL drift covers token distributions; PSI is
its NUMERIC-feature counterpart with the bin convention every scoring
pipeline uses: bins are fixed from the REFERENCE population's
deciles, so drift moves mass across bins instead of moving the bins.

Registered after m59 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_SPLIT = "2024-01-08"  # reference = first week of the event window


# -- q223: PSI of the event-value distribution, week 1 vs rest
@query(
    "q223_psi_drift",
    f"""
    WITH e AS (SELECT CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents,
                      ts < TIMESTAMP '{_SPLIT} 00:00:00' AS is_ref
               FROM events),
         cuts AS (SELECT list_transform(quantile_cont(cents,
                      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                      x -> {bfround_sql('x * 1e6', 0)} / 1e6) AS c
                  FROM e WHERE is_ref),
         b AS (SELECT 1 + len(list_filter(cuts.c, x -> e.cents > x)) AS bin,
                      is_ref
               FROM e, cuts),
         g AS (SELECT CAST(bin AS BIGINT) AS bin,
                      CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_ref,
                      CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                        AS n_cur
               FROM b GROUP BY 1),
         t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
                      CAST(sum(n_cur) AS BIGINT) AS tc,
                      CAST(count(*) AS BIGINT) AS nb
               FROM g)
    SELECT g.bin, g.n_ref, g.n_cur,
           {bfround_sql('CAST(g.n_ref + 1 AS DOUBLE) / (t.tr + t.nb)', 6)} AS ref_share,
           {bfround_sql('CAST(g.n_cur + 1 AS DOUBLE) / (t.tc + t.nb)', 6)} AS cur_share,
           {bfround_sql('''(CAST(g.n_cur + 1 AS DOUBLE) / (t.tc + t.nb)
                  - CAST(g.n_ref + 1 AS DOUBLE) / (t.tr + t.nb))
                 * ln((CAST(g.n_cur + 1 AS DOUBLE) / (t.tc + t.nb))
                      / (CAST(g.n_ref + 1 AS DOUBLE) / (t.tr + t.nb)))''', 6)}
             AS psi_term
    FROM g, t
    """,
)
def q223_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference deciles from one cuts aggregate over week-1 cents
    (integer grid), both populations binned by the SAME cuts in one
    scan, per-bin PSI terms from add-one-smoothed shares (identical
    double expression both sides; each term >= 0, total PSI = the
    column sum).  Two combinable aggregates + a 9-value broadcast —
    the monitoring metric costs one pass regardless of table size."""
    e = load_table(spark, sf_dir, "events").select(
        bfround(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("ts") < F.lit(f"{_SPLIT} 00:00:00").cast("timestamp")).alias("is_ref"),
    )
    cuts = e.filter("is_ref").agg(
        F.expr(
            "transform(percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)),"
            f" x -> {bfround_sql('x * 1e6', 0)} / 1e6)"
        ).alias("c")
    )
    b = e.crossJoin(F.broadcast(cuts)).select(
        (F.lit(1) + F.size(F.filter(F.col("c"), lambda x: F.col("cents") > x)))
        .cast("long")
        .alias("bin"),
        "is_ref",
    )
    # the 10-row bin table feeds the totals row AND the final select:
    # unpinned, the second consumer re-ran the whole scan+bin pass
    # (round-6 census: events scanned 4x)
    g = pin(
        b.groupBy("bin").agg(
            F.sum(F.col("is_ref").cast("int")).cast("long").alias("n_ref"),
            F.sum((~F.col("is_ref")).cast("int")).cast("long").alias("n_cur"),
        )
    )
    t = g.agg(
        F.sum("n_ref").cast("long").alias("tr"),
        F.sum("n_cur").cast("long").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    ref_share = (F.col("n_ref") + 1) / (F.col("tr") + F.col("nb"))
    cur_share = (F.col("n_cur") + 1) / (F.col("tc") + F.col("nb"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            bfround(ref_share, 6).alias("ref_share"),
            bfround(cur_share, 6).alias("cur_share"),
            bfround((cur_share - ref_share) * F.log(cur_share / ref_share), 6).alias(
                "psi_term"
            ),
        )
    )
