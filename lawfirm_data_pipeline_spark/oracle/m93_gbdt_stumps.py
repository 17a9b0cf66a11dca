"""M93 — round-5 wave 14: gradient-boosted stumps with a fully
hash-gated training trajectory.

Boosted trees are THE tabular workhorse, and their distributed form is
pure relational algebra: a split search is one combinable groupBy per
feature (bucket sums of residuals) + a prefix-sum over the bucket grid
+ an argmax; a leaf is a guarded mean; a boosting round is a
projection.  q292 runs 3 rounds of depth-1 trees (squared loss) over
(user bucket, hour-of-day) with every quantity on an exact grid:

* residuals live in integer MILLI-cents (int64 end to end);
* split scores are S_L²/n_L + S_R²/n_R where each operand is an exact
  int64 ≤ 2^53 converted once to double — both engines evaluate the
  identical IEEE expression, so the argmax (tie-break feature, then
  threshold) is deterministic;
* leaves are floor(S/n) on that shared double — back on the integer
  grid, so the next round's residuals stay exact.

The oracle replays all 3 rounds in SQL (the CTE chain is GENERATED
from the same round template the Spark loop uses), gating chosen
splits, leaf values, and the per-round L1 residual norm — i.e. the
entire fit, not a final-score tolerance.

Scale: per round the heavy work is one scan + one (feature, bucket)
combinable aggregate (map-side partial); the candidate grid (~53 rows)
and the argmax are driver-free in-plan broadcasts.  Deeper trees
repeat the same search per node over its partition — same shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..pin import pin
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_ROUNDS = 3

_BASE_SQL = f"""
        SELECT user_id % 32 AS x1,
               CAST(hour(ts) AS BIGINT) AS x2,
               CAST({bfround_sql('value * 100', 0)} AS BIGINT) * 1000 AS res
        FROM events WHERE user_id % 3 = 1
"""

_SCORE_SQL = (
    "CAST(SL AS DOUBLE) * CAST(SL AS DOUBLE) / CAST(nL AS DOUBLE)"
    " + CAST(SR AS DOUBLE) * CAST(SR AS DOUBLE) / CAST(nR AS DOUBLE)"
)


def _round_sql(r: int) -> str:
    prev = "base" if r == 1 else f"res{r - 1}"
    return f"""
    tot{r} AS (SELECT CAST(sum(res) AS BIGINT) AS Stot,
                      CAST(count(*) AS BIGINT) AS ntot FROM {prev}),
    buckets{r} AS (
        SELECT f, b, CAST(sum(res) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT 'x1' AS f, x1 AS b, res FROM {prev}
              UNION ALL SELECT 'x2', x2, res FROM {prev})
        GROUP BY f, b
    ),
    splits{r} AS (
        SELECT f, t, SL, nL, Stot - SL AS SR, ntot - nL AS nR
        FROM (
            SELECT f, b AS t,
                   CAST(sum(s) OVER (PARTITION BY f ORDER BY b) AS BIGINT) AS SL,
                   CAST(sum(n) OVER (PARTITION BY f ORDER BY b) AS BIGINT) AS nL,
                   max(b) OVER (PARTITION BY f) AS bmax
            FROM buckets{r}
        ) CROSS JOIN tot{r}
        WHERE t < bmax
    ),
    best{r} AS (
        SELECT {r} AS round, f, t,
               CAST(floor(CAST(SL AS DOUBLE) / CAST(nL AS DOUBLE)) AS BIGINT)
                 AS leafL,
               CAST(floor(CAST(SR AS DOUBLE) / CAST(nR AS DOUBLE)) AS BIGINT)
                 AS leafR
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY {_SCORE_SQL} DESC, f, t) AS rk
            FROM splits{r}
        ) WHERE rk = 1
    ),
    res{r} AS (
        SELECT p.x1, p.x2,
               p.res - CASE WHEN (b.f = 'x1' AND p.x1 <= b.t)
                              OR (b.f = 'x2' AND p.x2 <= b.t)
                            THEN b.leafL ELSE b.leafR END AS res
        FROM {prev} p CROSS JOIN best{r} b
    )"""


_GBDT_SQL = (
    "WITH base AS (" + _BASE_SQL + "),"
    + ",".join(_round_sql(r) for r in range(1, _ROUNDS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"""SELECT b.round, b.f AS feature, b.t AS threshold,
               b.leafL AS leaf_l_milli, b.leafR AS leaf_r_milli,
               (SELECT CAST(sum(abs(res)) AS BIGINT) FROM res{r})
                 AS l1_residual_after
        FROM best{r} b"""
        for r in range(1, _ROUNDS + 1)
    )
)


@query("q292_gbdt_stumps", _GBDT_SQL)
def q292_gbdt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 boosting rounds, each: bucket-sum residuals per feature →
    prefix-sum split candidates → IEEE-identical score argmax →
    floored-mean leaves → integer residual update.  Output = the chosen
    split + leaves + post-round L1 norm per round."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 3 == 1)
    cur = ev.select(
        (F.col("user_id") % 32).alias("x1"),
        F.hour("ts").cast("long").alias("x2"),
        (bfround(F.col("value") * 100).cast("long") * 1000).alias("res"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    out = None
    for r in range(1, _ROUNDS + 1):
        tot = cur.agg(
            F.sum("res").cast("long").alias("Stot"),
            F.count(F.lit(1)).cast("long").alias("ntot"),
        )
        buckets = (
            cur.select(F.lit("x1").alias("f"), F.col("x1").alias("b"), "res")
            .unionByName(
                cur.select(F.lit("x2").alias("f"), F.col("x2").alias("b"), "res")
            )
            .groupBy("f", "b")
            .agg(
                F.sum("res").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )
        wf = Window.partitionBy("f").orderBy("b")
        splits = (
            buckets.select(
                "f",
                F.col("b").alias("t"),
                F.sum("s").over(wf).cast("long").alias("SL"),
                F.sum("n").over(wf).cast("long").alias("nL"),
                F.max("b").over(Window.partitionBy("f")).alias("bmax"),
            )
            .crossJoin(F.broadcast(tot))
            .filter(F.col("t") < F.col("bmax"))
            .select(
                "f",
                "t",
                "SL",
                "nL",
                (F.col("Stot") - F.col("SL")).alias("SR"),
                (F.col("ntot") - F.col("nL")).alias("nR"),
            )
        )
        score = d(F.col("SL")) * d(F.col("SL")) / d(F.col("nL")) + d(
            F.col("SR")
        ) * d(F.col("SR")) / d(F.col("nR"))
        best = pin(
            splits.withColumn(
                "rk",
                F.row_number().over(Window.orderBy(score.desc(), "f", "t")),
            )
            .filter(F.col("rk") == 1)
            .select(
                F.lit(r).alias("round"),
                "f",
                "t",
                F.floor(d(F.col("SL")) / d(F.col("nL"))).cast("long").alias("leafL"),
                F.floor(d(F.col("SR")) / d(F.col("nR"))).cast("long").alias("leafR"),
            )
            # 1-row split decision, read twice (residual update + output
            # row) — pin it so the bucket agg + window ranking behind it
            # runs once per round, not twice
        )
        cur = cur.crossJoin(F.broadcast(best)).select(
            "x1",
            "x2",
            (
                F.col("res")
                - F.when(
                    ((F.col("f") == "x1") & (F.col("x1") <= F.col("t")))
                    | ((F.col("f") == "x2") & (F.col("x2") <= F.col("t"))),
                    F.col("leafL"),
                ).otherwise(F.col("leafR"))
            ).alias("res"),
        )
        cur = pin(cur)
        l1 = cur.agg(F.sum(F.abs(F.col("res"))).cast("long").alias("l1"))
        row = best.crossJoin(F.broadcast(l1)).select(
            "round",
            F.col("f").alias("feature"),
            F.col("t").alias("threshold"),
            F.col("leafL").alias("leaf_l_milli"),
            F.col("leafR").alias("leaf_r_milli"),
            F.col("l1").alias("l1_residual_after"),
        )
        out = row if out is None else out.unionByName(row)
    return out
