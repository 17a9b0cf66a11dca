"""M57 — payment-integrity and value-curve ops (round 3 final wave).

* q219 — duplicate-payment screen: purchases by the same user for the
  same amount within 10 minutes of each other — the double-charge /
  double-click fraud pattern.  The pair join is keyed on (user,
  amount, 10-minute bucket) with the +1-bucket twin join (the q52
  bounded-range discipline), so candidates are equi-join cheap and
  the exact time predicate verifies after.
* q220 — cohort LTV curve: cumulative revenue per first-touch weekly
  cohort by weeks-since-signup — q112's retention grid with value
  accumulated instead of presence counted; the payback-period number
  growth teams plan against.

Registered after m56 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_BUCKET_US = 600_000_000  # 10 minutes


# -- q219: duplicate-payment screen (same user+amount within 10 min)
@query(
    "q219_duplicate_payments",
    f"""
    WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                      CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase'),
         pairs AS (SELECT a.user_id, a.cents,
                          a.event_id AS first_id, b.event_id AS second_id,
                          b.us - a.us AS gap_us
                   FROM p a JOIN p b
                     ON a.user_id = b.user_id AND a.cents = b.cents
                    AND b.us - a.us BETWEEN 0 AND {_BUCKET_US}
                    AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id)))
    SELECT user_id, cents,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us
    FROM pairs GROUP BY 1, 2
    """,
)
def q219_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspicious (user, amount) groups with pair counts and the
    tightest gap.  Spark plan: candidates come from an equi-join on
    (user, cents, bucket) UNION the (user, cents, bucket+1) twin — a
    pair within 10 min lands in the same or adjacent bucket, so the
    join never degenerates to the per-user cross product; the exact
    gap predicate verifies candidates after the hash join."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            bfround(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    p = p.withColumn("bkt", F.floor(F.col("us") / _BUCKET_US).cast("long"))
    a = p.select(
        "user_id",
        "cents",
        F.col("event_id").alias("first_id"),
        F.col("us").alias("us_a"),
        "bkt",
    )
    # probe side appears once per (same, previous) bucket
    b_same = p.select(
        "user_id",
        "cents",
        F.col("event_id").alias("second_id"),
        F.col("us").alias("us_b"),
        "bkt",
    )
    b_prev = b_same.withColumn("bkt", F.col("bkt") - 1)
    b = b_same.unionByName(b_prev)
    pairs = (
        a.join(b, ["user_id", "cents", "bkt"])
        .filter(
            ((F.col("us_b") - F.col("us_a")).between(0, _BUCKET_US))
            & (
                (F.col("us_a") < F.col("us_b"))
                | ((F.col("us_a") == F.col("us_b")) & (F.col("first_id") < F.col("second_id")))
            )
        )
        .select("user_id", "cents", (F.col("us_b") - F.col("us_a")).alias("gap_us"))
        # the two probe copies can surface the same pair when both
        # events share a bucket boundary-free... they can't: a pair is
        # found in exactly one of (same-bucket, prev-bucket) joins
    )
    return pairs.groupBy("user_id", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
    )


# -- q220: cohort LTV (cumulative revenue by weeks since first touch)
@query(
    "q220_cohort_ltv",
    f"""
    WITH e AS (SELECT user_id, ts,
                      CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents,
                      event_type
               FROM events),
         first AS (SELECT user_id,
                          CAST(floor(CAST(date_diff('day', DATE '2024-01-01',
                                          CAST(date_trunc('week', min(ts)) AS DATE))
                                          AS DOUBLE) / 7) AS BIGINT) AS cohort
                   FROM e GROUP BY 1),
         rev AS (SELECT e.user_id, first.cohort,
                        CAST(floor(CAST(date_diff('day', DATE '2024-01-01',
                                        CAST(date_trunc('week', e.ts) AS DATE))
                                        AS DOUBLE) / 7) AS BIGINT)
                          - first.cohort AS age,
                        e.cents
                 FROM e JOIN first USING (user_id)
                 WHERE e.event_type = 'purchase'),
         sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
                FROM first GROUP BY 1),
         g AS (SELECT cohort, age, CAST(sum(cents) AS BIGINT) AS wk_cents
               FROM rev GROUP BY 1, 2)
    SELECT g.cohort, g.age, sz.n_users,
           CAST(sum(g.wk_cents) OVER (PARTITION BY g.cohort
                                      ORDER BY g.age) AS BIGINT) AS cum_cents,
           {bfround_sql('''CAST(sum(g.wk_cents) OVER (PARTITION BY g.cohort ORDER BY g.age)
                      AS DOUBLE) / sz.n_users / 100''', 4)} AS ltv_per_user
    FROM g JOIN sz USING (cohort)
    """,
)
def q220_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative purchase cents per signup-week cohort by cohort age,
    normalized per cohort member — the LTV curve.  One shuffle keyed
    by user for the first-touch join, one (cohort, age) aggregate, and
    the cumulative window runs over that grid (weeks x cohorts rows),
    never the event stream — q112's retention shape with value instead
    of presence."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        bfround(F.col("value") * 100).cast("long").alias("cents"),
        "event_type",
    )

    def week_of(col):
        return F.floor(
            F.datediff(
                F.to_date(F.date_trunc("week", col)), F.lit("2024-01-01").cast("date")
            )
            / 7
        ).cast("long")

    first = e.groupBy("user_id").agg(week_of(F.min("ts")).alias("cohort"))
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .select("cohort", (week_of(F.col("ts")) - F.col("cohort")).alias("age"), "cents")
    )
    sz = first.groupBy("cohort").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    g = rev.groupBy("cohort", "age").agg(F.sum("cents").cast("long").alias("wk_cents"))
    w = Window.partitionBy("cohort").orderBy("age")
    cum = F.sum("wk_cents").over(w).cast("long")
    return (
        g.join(F.broadcast(sz), "cohort")
        .select(
            "cohort",
            "age",
            "n_users",
            cum.alias("cum_cents"),
            bfround(cum.cast("double") / F.col("n_users") / 100, 4).alias(
                "ltv_per_user"
            ),
        )
    )
