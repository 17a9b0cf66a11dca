"""M44 — seasonality, forecasting, and privacy/forensic audits
(round 3 continuation).

* q189 — day-of-week seasonality profile + seasonal strength: is the
  weekly cycle real signal or noise?  The statistic every capacity
  planner and anomaly baseline needs before trusting a dow-grid.
* q190 — single-exponential-smoothing backtest per event type: the
  one-step forecast and its MAE, computed in closed form over the
  bounded daily grid (no sequential loop — the recurrence unrolls to
  a geometric-weight sum).
* q191 — k-anonymity generalization ladder over customer
  quasi-identifiers: how many rows sit in groups smaller than k at
  each coarsening level — the privacy audit a data release runs
  before shipping.
* q192 — Benford first-digit audit of order values with chi-square
  terms: the classic forensic data-quality screen.

Registered after m43 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# shared daily-count grid (one groupBy over the events scan; ~30 rows
# per event type at every sf — all downstream math is grid-sized)
_DAILY_SQL = """
    SELECT event_type AS etype, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("etype"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


# -- q189: day-of-week profile + seasonal strength
@query(
    "q189_dow_seasonality",
    f"""
    WITH d AS ({_DAILY_SQL}),
         t AS (SELECT etype, CAST(sum(n) AS BIGINT) AS s,
                      CAST(sum(n * n) AS BIGINT) AS ss,
                      CAST(count(*) AS BIGINT) AS m
               FROM d GROUP BY 1),
         g AS (SELECT d.etype, CAST(dayofweek(day) AS BIGINT) AS dow,
                      CAST(count(*) AS BIGINT) AS nd,
                      CAST(sum(n) AS BIGINT) AS sd
               FROM d GROUP BY 1, 2),
         -- residual sum of squares around per-dow means, from exact sums:
         -- SS_resid = SS_total_raw - sum_dow sd^2/nd  (standard one-way
         -- decomposition); all inputs exact integers
         r AS (SELECT g.etype,
                      CAST(sum(CAST(sd AS DOUBLE) * sd / nd) AS DOUBLE) AS fit
               FROM g GROUP BY 1)
    SELECT t.etype,
           t.m AS n_days,
           {bfround_sql('CAST(t.s AS DOUBLE) / t.m', 4)} AS mean_daily,
           {bfround_sql('''1 - (t.ss - r.fit)
                     / (t.ss - CAST(t.s AS DOUBLE) * t.s / t.m)''', 6)}
             AS seasonal_strength
    FROM t JOIN r ON r.etype = t.etype
    """,
)
def q189_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of daily-count variance explained by the day-of-week mean
    (one-way ANOVA R^2): ~0 means the weekly grid is noise, ~1 means
    don't alert without deseasonalizing.  Every moment is an exact
    integer sum off the ~30-row daily grid; the two divisions happen
    once per event type."""
    d = _daily(spark, sf_dir)
    # r10 q227-class audit: daily counts are row-count dependent —
    # Σn² forms DECIMAL(19,0)² → d38 (the former long product raised
    # ANSI overflow once one day held ≥ 3.04e9 events of a type)
    nd19 = F.col("n").cast("decimal(19,0)")
    t = d.groupBy("etype").agg(
        F.sum("n").cast("long").alias("s"),
        F.sum(nd19 * nd19).alias("ss"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    g = d.groupBy("etype", F.dayofweek("day").cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n").cast("long").alias("sd"),
    )
    r = g.groupBy("etype").agg(
        F.sum(F.col("sd").cast("double") * F.col("sd") / F.col("nd")).alias("fit")
    )
    ss_d = F.col("ss").cast("double")  # exact integer → one rounding
    tot_ss = ss_d - F.col("s").cast("double") * F.col("s") / F.col("m")
    return (
        t.join(r, "etype")
        .select(
            "etype",
            F.col("m").alias("n_days"),
            bfround(F.col("s").cast("double") / F.col("m"), 4).alias("mean_daily"),
            bfround(1 - (ss_d - F.col("fit")) / tot_ss, 6).alias(
                "seasonal_strength"
            ),
        )
    )


# -- q190: single-exponential-smoothing backtest (closed form)
_ALPHA = 0.3


@query(
    "q190_ses_backtest",
    f"""
    WITH d AS ({_DAILY_SQL}),
         arr AS (SELECT etype, list(CAST(n AS DOUBLE) ORDER BY day) AS y
                 FROM d GROUP BY 1),
         f AS (SELECT etype, y, len(y) AS t,
                      -- forecast for day t uses days 1..t-1: geometric
                      -- weights, plus the boundary mass on y[1]
                      list_transform(generate_series(2, len(y)), t ->
                        {_ALPHA} * list_sum(list_transform(
                            generate_series(1, t - 1),
                            i -> power(1 - {_ALPHA}, t - 1 - i) * y[i]))
                        + power(1 - {_ALPHA}, t - 1) * y[1]) AS fc
               FROM arr),
         e AS (SELECT etype, t,
                      {bfround_sql('fc[t - 1]', 4)} AS last_forecast,
                      {bfround_sql('y[t]', 4)} AS last_actual,
                      CASE WHEN t >= 8 THEN
                        {bfround_sql('''list_sum(list_transform(
                                  generate_series(8, t),
                                  i -> abs(y[i] - fc[i - 1]))) / (t - 7)''', 4)}
                      END AS mae
               FROM f WHERE t >= 2)
    SELECT etype, CAST(t AS BIGINT) AS n_days, last_forecast, last_actual, mae
    FROM e
    """,
)
def q190_ses_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead exponential smoothing (alpha=0.3) per event type,
    backtested over days 8..T.  The sequential recurrence f_t =
    a*y_(t-1) + (1-a)*f_(t-1) unrolls into the geometric-weight sum
    computed here, so the whole forecast is one projection over a
    grid-sized array — nothing iterates, nothing shuffles beyond the
    daily rollup.  Both engines evaluate the identical left-to-right
    double sum; outputs round(4)."""
    d = _daily(spark, sf_dir)
    arr = d.groupBy("etype").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("pairs")
    ).select(
        "etype",
        F.transform("pairs", lambda p: p["n"].cast("double")).alias("y"),
    )
    a = F.lit(_ALPHA)
    t_len = F.size("y")

    def forecast(t):
        # t is 1-based day index (Column); weights over days 1..t-1
        idx = F.sequence(F.lit(1), t - 1)
        geo = F.aggregate(
            F.transform(
                idx,
                lambda i: F.pow(F.lit(1.0) - a, (t - 1 - i).cast("double"))
                * F.element_at(F.col("y"), i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return a * geo + F.pow(F.lit(1.0) - a, (t - 1).cast("double")) * F.element_at(
            F.col("y"), 1
        )

    fc = F.transform(F.sequence(F.lit(2), t_len), forecast)
    # filter BEFORE building fc: sequence(2, t) counts down for t < 2,
    # and ANSI element_at would then index out of bounds
    withf = arr.filter(t_len >= 2).select("etype", "y", t_len.alias("t"), fc.alias("fc"))
    # guard t >= 8: Spark's sequence(8, t) counts DOWN for t < 8 where
    # DuckDB's generate_series returns empty — same trap as shingles_of
    mae = F.when(
        F.col("t") >= 8,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(8), F.col("t")),
                lambda i: F.abs(
                    F.element_at(F.col("y"), i) - F.element_at(F.col("fc"), i - 1)
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("t") - 7),
    )
    return withf.select(
        "etype",
        F.col("t").cast("long").alias("n_days"),
        bfround(F.element_at("fc", F.col("t") - 1), 4).alias("last_forecast"),
        bfround(F.element_at("y", F.col("t")), 4).alias("last_actual"),
        bfround(mae, 4).alias("mae"),
    )


# -- q191: k-anonymity generalization ladder (k = 5)
@query(
    "q191_k_anonymity",
    f"""
    WITH qi AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
                       CAST(floor(c_acctbal / 1000) AS BIGINT) AS balband
                FROM customer),
         l0 AS (SELECT count(*) AS n FROM qi GROUP BY nat, seg, balband),
         l1 AS (SELECT count(*) AS n FROM qi GROUP BY nat, seg),
         l2 AS (SELECT count(*) AS n FROM qi GROUP BY seg),
         s AS (
           SELECT 0 AS level, 'nation+segment+balband' AS quasi_ids,
                  CAST(count(*) AS BIGINT) AS n_groups,
                  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                    AS groups_below_k,
                  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                    AS rows_at_risk,
                  CAST(min(n) AS BIGINT) AS min_group
           FROM l0
           UNION ALL
           SELECT 1, 'nation+segment', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
                  CAST(min(n) AS BIGINT)
           FROM l1
           UNION ALL
           SELECT 2, 'segment', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
                  CAST(min(n) AS BIGINT)
           FROM l2)
    SELECT CAST(level AS BIGINT) AS level, quasi_ids, n_groups,
           groups_below_k, rows_at_risk, min_group,
           {bfround_sql('''CAST(rows_at_risk AS DOUBLE)
                 / (SELECT count(*) FROM customer)''', 6)} AS risk_share
    FROM s
    """,
)
def q191_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 anonymity audit at three generalization levels of the
    (nation, market segment, balance band) quasi-identifier: each
    coarsening is one combinable groupBy whose group count — not the
    table — feeds the risk summary.  The ladder shows exactly how much
    generalization buys how much risk reduction, which is the number a
    release decision needs."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("balband"),
    )
    total = cust.count()

    def level(lvl: int, label: str, keys: list[str]) -> DataFrame:
        g = qi.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
        below = F.col("n") < 5
        return g.agg(
            F.lit(lvl).cast("long").alias("level"),
            F.lit(label).alias("quasi_ids"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(below.cast("int")).cast("long").alias("groups_below_k"),
            F.sum(F.when(below, F.col("n")).otherwise(0)).cast("long").alias(
                "rows_at_risk"
            ),
            F.min("n").cast("long").alias("min_group"),
        )

    s = (
        level(0, "nation+segment+balband", ["nat", "seg", "balband"])
        .unionByName(level(1, "nation+segment", ["nat", "seg"]))
        .unionByName(level(2, "segment", ["seg"]))
    )
    return s.withColumn(
        "risk_share", bfround(F.col("rows_at_risk") / F.lit(total), 6)
    )


# -- q192: Benford first-digit audit with chi-square terms
@query(
    "q192_benford_audit",
    f"""
    WITH c AS (SELECT CAST(substring(CAST(CAST({bfround_sql('o_totalprice * 100', 0)}
                                           AS BIGINT) AS VARCHAR), 1, 1)
                           AS BIGINT) AS digit
               FROM orders),
         g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
    SELECT digit, n,
           {bfround_sql('CAST(n AS DOUBLE) / t.tot', 6)} AS share,
           {bfround_sql('log10(1 + 1.0 / digit)', 6)} AS benford,
           {bfround_sql('''power(n - t.tot * log10(1 + 1.0 / digit), 2)
                 / (t.tot * log10(1 + 1.0 / digit))''', 6)} AS chi2_term
    FROM g, t
    """,
)
def q192_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order values (cents
    grid) vs Benford's expectation, with per-digit chi-square
    contributions — the forensic screen for fabricated or truncated
    monetary data.  One groupBy to a 9-row summary; the expected-share
    math runs on that summary."""
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(
            bfround(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    g = o.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = g.agg(F.sum("n").cast("long").alias("tot"))
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            bfround(F.col("n") / F.col("tot"), 6).alias("share"),
            bfround(benford, 6).alias("benford"),
            bfround(F.pow(F.col("n") - F.col("tot") * benford, 2)
                / (F.col("tot") * benford), 6).alias("chi2_term"),
        )
    )
