"""M56 — survival analysis and fractional attribution (round 3 final
wave).

* q217 — discrete Kaplan-Meier churn curve: weekly hazard and
  survival over the event window, last-week-active as the churn
  event, final-week actives censored — the retention statistic that
  handles censoring correctly where naive "percent left" curves
  don't.
* q218 — position-based (U-shaped) multi-touch attribution: each
  conversion splits credit 40/40/20 across first touch, last touch,
  and the interior — the fractional-credit complement of q136's
  winner-takes-all last-touch.  Credit is computed in exact
  micro-credit integers so the final per-channel sums are
  order-independent.

Registered after m55 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q217: discrete Kaplan-Meier churn curve over activity weeks
@query(
    "q217_km_churn",
    f"""
    WITH wk AS (SELECT user_id,
                       CAST(floor(CAST(date_diff('day', DATE '2024-01-01',
                                       CAST(date_trunc('week', ts) AS DATE))
                                       AS DOUBLE) / 7) AS BIGINT) + 1 AS w
                FROM events),
         lastw AS (SELECT user_id, CAST(max(w) AS BIGINT) AS lw FROM wk GROUP BY 1),
         maxw AS (SELECT CAST(max(lw) AS BIGINT) AS mw FROM lastw),
         grid AS (SELECT CAST(unnest(generate_series(1, (SELECT mw FROM maxw)))
                              AS BIGINT) AS w),
         km AS (SELECT g.w,
                       CAST((SELECT count(*) FROM lastw WHERE lw >= g.w) AS BIGINT)
                         AS n_risk,
                       CAST((SELECT count(*) FROM lastw, maxw
                             WHERE lw = g.w AND lw < maxw.mw) AS BIGINT)
                         AS n_churned
                FROM grid g)
    SELECT w, n_risk, n_churned,
           {bfround_sql('CAST(n_churned AS DOUBLE) / n_risk', 6)} AS hazard,
           {bfround_sql('''exp(sum(ln(1 - CAST(n_churned AS DOUBLE) / n_risk))
                     OVER (ORDER BY w))''', 6)} AS survival
    FROM km
    """,
)
def q217_km_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity weeks per user -> last active week; a user churns in
    their last week unless it is the final observed week (censored —
    still alive as far as the data can say).  Hazard h_w = churned_w /
    at-risk_w; survival = the Kaplan-Meier product, computed as
    exp(sum(ln(1-h))) over the <=5-row weekly grid so both engines
    evaluate the identical expression.  Two combinable aggregates over
    the scan; all KM algebra runs on the grid."""
    wk = load_table(spark, sf_dir, "events").select(
        "user_id",
        (
            F.floor(
                F.datediff(
                    F.to_date(F.date_trunc("week", "ts")),
                    F.lit("2024-01-01").cast("date"),
                )
                / 7
            ).cast("long")
            + 1
        ).alias("w"),
    )
    lastw = wk.groupBy("user_id").agg(F.max("w").cast("long").alias("lw"))
    dist = lastw.groupBy("lw").agg(F.count(F.lit(1)).cast("long").alias("n_last"))
    mw = dist.agg(F.max("lw").alias("mw"))
    # FULL week grid (a week where no user churned still gets a row,
    # like the oracle's generate_series), left-joined to the lw
    # histogram; n_risk(w) = suffix sum over the grid
    grid = mw.select(F.explode(F.sequence(F.lit(1).cast("long"), F.col("mw"))).alias("lw"), "mw")
    filled = grid.join(dist, "lw", "left").withColumn(
        "n_last", F.coalesce("n_last", F.lit(0))
    )
    wcum = Window.orderBy(F.col("lw").desc())
    km = filled.select(
        F.col("lw").alias("w"),
        F.sum("n_last").over(wcum).cast("long").alias("n_risk"),
        F.when(F.col("lw") < F.col("mw"), F.col("n_last"))
        .otherwise(0)
        .cast("long")
        .alias("n_churned"),
    )
    hazard = F.col("n_churned") / F.col("n_risk")
    surv = F.exp(
        F.sum(F.log(1 - F.col("n_churned") / F.col("n_risk"))).over(
            Window.orderBy("w")
        )
    )
    return km.select(
        "w",
        "n_risk",
        "n_churned",
        bfround(hazard, 6).alias("hazard"),
        bfround(surv, 6).alias("survival"),
    )


# -- q218: position-based (40/40/20) multi-touch attribution
@query(
    "q218_position_attribution",
    f"""
    WITH e AS (SELECT user_id, ts, event_id, event_type,
                      CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
               FROM events
               QUALIFY count(*) OVER (PARTITION BY user_id) <= 5000),
         conv AS (SELECT user_id, ts, event_id, cents FROM e
                  WHERE event_type = 'purchase'),
         touch AS (SELECT user_id, ts, event_id, event_type FROM e
                   WHERE event_type != 'purchase'),
         pair AS (SELECT c.user_id, c.ts AS cts, c.event_id AS cid, c.cents,
                         t.ts AS tts, t.event_id AS tid, t.event_type AS channel,
                         row_number() OVER (PARTITION BY c.user_id, c.event_id
                                            ORDER BY t.ts, t.event_id) AS rn_first,
                         row_number() OVER (PARTITION BY c.user_id, c.event_id
                                            ORDER BY t.ts DESC, t.event_id DESC)
                           AS rn_last,
                         count(*) OVER (PARTITION BY c.user_id, c.event_id) AS nt
                  FROM conv c JOIN touch t
                    ON t.user_id = c.user_id
                   AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
                   AND (t.ts < c.ts OR t.event_id < c.event_id)),
         credit AS (SELECT channel,
                           CASE WHEN nt = 1 THEN 1000000 * cents
                                WHEN nt = 2 AND rn_first = 1 THEN 500000 * cents
                                WHEN nt = 2 THEN 500000 * cents
                                WHEN rn_first = 1 THEN 400000 * cents
                                WHEN rn_last = 1 THEN 400000 * cents
                                ELSE CAST(floor(200000.0 / (nt - 2)) AS BIGINT)
                                     * cents END AS micro
                    FROM pair)
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(micro) AS BIGINT) AS credit_micro_cents
    FROM credit GROUP BY 1
    """,
)
def q218_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase's cents split U-shaped across its trailing-7-day
    touches: 40% first, 40% last, 20% spread over the middle (single
    touch takes all, two touches split 50/50).  Credit is integer
    micro-shares (1e6 = full credit) with the interior share an exact
    integer division — order-independent sums, no float drift.  The
    candidate join is the bounded range join shape (7-day window per
    conversion); rank/count windows run per conversion group."""
    # bot filter (r11 zipf-skew finding): a hot user with 190k events
    # makes conversions x trailing-touches OUTPUT-quadratic (~1e9 pair
    # rows for one join key — no partitioning fixes an output), and no
    # real attribution path has 5000 touchpoints.  The SQL twin carries
    # the identical QUALIFY; standard corpora max ~150 events/user.
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        bfround(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = (
        e.withColumn(
            "_un", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        )
        .filter(F.col("_un") <= 5000)
        .drop("_un")
    )
    conv = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
        "cents",
    )
    touch = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    pair = conv.join(touch, "user_id").filter(
        (F.col("tts") <= F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAY"))
        & ((F.col("tts") < F.col("cts")) | (F.col("tid") < F.col("cid")))
    )
    grp = Window.partitionBy("user_id", "cid")
    wf = grp.orderBy("tts", "tid")
    wl = grp.orderBy(F.col("tts").desc(), F.col("tid").desc())
    ranked = pair.select(
        "channel",
        "cents",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count(F.lit(1)).over(grp).alias("nt"),
    )
    micro = (
        F.when(F.col("nt") == 1, 1_000_000 * F.col("cents"))
        .when((F.col("nt") == 2) & (F.col("rn_first") == 1), 500_000 * F.col("cents"))
        .when(F.col("nt") == 2, 500_000 * F.col("cents"))
        .when(F.col("rn_first") == 1, 400_000 * F.col("cents"))
        .when(F.col("rn_last") == 1, 400_000 * F.col("cents"))
        .otherwise((F.floor(F.lit(200_000) / (F.col("nt") - 2))) * F.col("cents"))
    )
    return ranked.select("channel", micro.alias("micro")).groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("micro").cast("long").alias("credit_micro_cents"),
    )
