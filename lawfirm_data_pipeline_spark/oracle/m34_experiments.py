"""M34 — experimentation and optimizer-statistics queries (round 3,
seventeenth wave).

q161 is a hash-randomized A/B readout: deterministic variant
assignment, per-variant conversion rates, and the two-proportion
z-statistic — all from exact integer counts, so even the test
statistic hash-gates.  q162 profiles predicate selectivity per column
(distinct ratio + heaviest-value share) — the numbers an index/layout
advisor ranks candidates by.  q163 is a 7-day rolling correlation
between two event types' daily volumes (co-movement drift), built on
exact rolling integer co-moments like q121.

Registered after m33 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q161: hash-randomized A/B conversion readout with z-statistic
@query(
    "q161_ab_test",
    f"""
    WITH assign AS (SELECT user_id,
                           CASE WHEN ('0x' || substring(md5('exp1:'
                                || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                                THEN 'A' ELSE 'B' END AS variant,
                           max(CASE WHEN event_type = 'purchase'
                                         AND ts < TIMESTAMP '2024-01-03'
                                    THEN 1 ELSE 0 END) AS converted
                    FROM events GROUP BY 1),
         per AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
                        CAST(sum(converted) AS BIGINT) AS n_converted
                 FROM assign GROUP BY 1),
         w AS (SELECT max(CASE WHEN variant = 'A' THEN n_users END) AS na,
                      max(CASE WHEN variant = 'A' THEN n_converted END) AS ca,
                      max(CASE WHEN variant = 'B' THEN n_users END) AS nb,
                      max(CASE WHEN variant = 'B' THEN n_converted END) AS cb
               FROM per)
    SELECT na, ca, nb, cb,
           {bfround_sql('CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)', 6)} AS rate_a,
           {bfround_sql('CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)', 6)} AS rate_b,
           {bfround_sql('''(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / sqrt((CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                        * (1 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                        * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))''', 6)}
             AS z_stat
    FROM w
    """,
)
def q161_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant = md5 parity of the salted user id (stable across runs
    and engines), conversion = any purchase; the pooled two-proportion
    z-statistic is a fixed IEEE expression over four exact integers —
    the entire experiment readout hash-gates.  Conversion counts only
    first-two-day purchases (month-long conversion saturates at 100%
    and zeroes the pooled variance)."""
    events = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2 == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    converted = F.when(
        (F.col("event_type") == "purchase")
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp")),
        1,
    ).otherwise(0)
    assign = events.groupBy("user_id").agg(
        F.max(converted).alias("converted")
    ).withColumn("variant", variant)
    per = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    w = per.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("n_converted"))).alias("cb"),
    )
    ra = F.col("ca").cast("double") / F.col("na").cast("double")
    rb = F.col("cb").cast("double") / F.col("nb").cast("double")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb")).cast("double")
    z = (ra - rb) / F.sqrt(
        pool * (1 - pool)
        * (F.lit(1.0) / F.col("na").cast("double") + F.lit(1.0) / F.col("nb").cast("double"))
    )
    return w.select(
        "na", "ca", "nb", "cb",
        bfround(ra, 6).alias("rate_a"),
        bfround(rb, 6).alias("rate_b"),
        bfround(z, 6).alias("z_stat"),
    )


# -- q162: per-column selectivity profile (index-advisor input)
@query(
    "q162_selectivity_profile",
    f"""
    WITH s AS (SELECT 'o_custkey' AS col,
                      (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
                      (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders)
                        AS n_distinct,
                      (SELECT CAST(max(cnt) AS BIGINT)
                       FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey))
                        AS top_count),
         p AS (SELECT 'o_orderpriority' AS col,
                      (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
                      (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT)
                       FROM orders) AS n_distinct,
                      (SELECT CAST(max(cnt) AS BIGINT)
                       FROM (SELECT count(*) AS cnt FROM orders
                             GROUP BY o_orderpriority)) AS top_count),
         st AS (SELECT 'o_orderstatus' AS col,
                       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n,
                       (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT)
                        FROM orders) AS n_distinct,
                       (SELECT CAST(max(cnt) AS BIGINT)
                        FROM (SELECT count(*) AS cnt FROM orders
                              GROUP BY o_orderstatus)) AS top_count)
    SELECT col, n, n_distinct, top_count,
           {bfround_sql('CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE)', 6)} AS distinct_ratio,
           {bfround_sql('CAST(top_count AS DOUBLE) / CAST(n AS DOUBLE)', 6)} AS top_share
    FROM (SELECT * FROM s UNION ALL SELECT * FROM p UNION ALL SELECT * FROM st)
    """,
)
def q162_selectivity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ratio and heaviest-value share for three candidate
    filter columns — what an index/partition advisor ranks by: high
    distinct ratio -> point-lookup key; high top-share -> skew warning.

    ONE fact scan for all three columns (r8: the per-column form ran
    two aggregates per column = 6 orders scans / 12 exchanges, the
    census max): unpivot each row to (col, value) pairs, one combinable
    (col, value) count, then a per-col rollup of that value histogram —
    n = Σcnt, n_distinct = non-null groups (count(DISTINCT x) ignores
    NULLs; the value histogram keeps the NULL group for n/top_count),
    top_count = max(cnt), never a sort.  Map-side combine absorbs the
    3x pre-combine row fan-out."""
    orders = load_table(spark, sf_dir, "orders")
    stacked = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in ("o_custkey", "o_orderpriority", "o_orderstatus")
                ]
            )
        ).alias("e")
    ).select("e.col", "e.v")
    g = stacked.groupBy("col", "v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    prof = g.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.when(F.col("v").isNotNull(), 1)).cast("long").alias("n_distinct"),
        F.max("cnt").cast("long").alias("top_count"),
    )
    return prof.select(
        "col",
        "n",
        "n_distinct",
        "top_count",
        bfround(F.col("n_distinct").cast("double") / F.col("n").cast("double"), 6)
        .alias("distinct_ratio"),
        bfround(F.col("top_count").cast("double") / F.col("n").cast("double"), 6)
        .alias("top_share"),
    )


# -- q163: 7-day rolling correlation of two event types' daily volumes
@query(
    "q163_rolling_correlation",
    f"""
    WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                               AS BIGINT) AS x,
                          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                               AS BIGINT) AS y
                   FROM events GROUP BY 1),
         w AS (SELECT d, x, y,
                      CAST(count(*) OVER win AS BIGINT) AS m,
                      sum(x) OVER win AS sx, sum(y) OVER win AS sy,
                      sum(x * x) OVER win AS sx2, sum(y * y) OVER win AS sy2,
                      sum(x * y) OVER win AS sxy
               FROM daily
               WINDOW win AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT CAST(d AS TIMESTAMP) AS day,
           {bfround_sql('''(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(m AS DOUBLE) * CAST(sy2 AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))''', 6)}
             AS corr7
    FROM w WHERE m = 7
      AND (m * sx2 - sx * sx) > 0 AND (m * sy2 - sy * sy) > 0
    """,
)
def q163_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do click and purchase volumes co-move?  Rolling 7-day Pearson
    from exact integer co-moment window sums over the DAILY grid (30
    rows — the raw stream is touched once by the grouped rollup);
    variance-zero windows are excluded on both sides.  The q121
    rolling-integer pattern applied to a joint statistic."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    # r10 q227-class audit: daily counts are row-count dependent, so
    # the squared/cross product sums run in DECIMAL(19,0)² → d38 (the
    # former long Σx² raised ANSI overflow once a day held ≥ 3.04e9
    # clicks); the positive-variance guards use the same decimal terms.
    d19 = "decimal(19,0)"
    xd, yd = F.col("x").cast(d19), F.col("y").cast(d19)
    win = Window.orderBy("d").rowsBetween(-6, 0)
    w = daily.select(
        "d", "x", "y",
        F.count(F.lit(1)).over(win).cast("long").alias("m"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(xd * xd).over(win).alias("sx2"),
        F.sum(yd * yd).over(win).alias("sy2"),
        F.sum(xd * yd).over(win).alias("sxy"),
    )
    m, sx, sy = F.col("m").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sx2, sy2, sxy = F.col("sx2").cast("double"), F.col("sy2").cast("double"), F.col("sxy").cast("double")
    corr = (m * sxy - sx * sy) / F.sqrt((m * sx2 - sx * sx) * (m * sy2 - sy * sy))
    d10, d28 = "decimal(10,0)", "decimal(28,0)"
    var_pos_x = (
        F.col("m").cast(d10) * F.col("sx2").cast(d28)
        - F.col("sx").cast(d19) * F.col("sx").cast(d19)
    ) > 0
    var_pos_y = (
        F.col("m").cast(d10) * F.col("sy2").cast(d28)
        - F.col("sy").cast(d19) * F.col("sy").cast(d19)
    ) > 0
    return (
        w.filter((F.col("m") == 7) & var_pos_x & var_pos_y)
        .select(F.col("d").cast("timestamp").alias("day"), bfround(corr, 6).alias("corr7"))
    )
