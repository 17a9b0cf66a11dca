"""M28 — interval concurrency, robust outliers, independence testing,
trend estimation (round 3, eleventh wave).

q137 sweeps +1/-1 interval endpoints for peak concurrent sessions per
state; q138 is median/MAD robust outlier detection on exact cents
(interpolated medians land on the half-cent grid, so both engines
agree bit-for-bit); q139 is a chi-square independence test between
document source and language with nano-fixed-point cell contributions
summed as integers; q140 fits per-type OLS slopes to daily event
counts from pure integer co-moments — one float division at the end.

Registered after m27 — outside round 3's 50-query window; round-4
rotation: m18-m28 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.stats import chisq_independence, mad_outliers, trend_slopes
from ..operators.timeseries import max_concurrency, state_intervals
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# q134's interval build, shared by the concurrency sweep
_INTERVALS_SQL = """
    seq AS (SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w != event_type
                        THEN 1 ELSE 0 END AS nw
            FROM events WHERE user_id % 5 = 0
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tagged AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING)
                              AS BIGINT) AS island
               FROM seq),
    iv AS (SELECT user_id, island, min(event_type) AS state,
                  min(ts) AS valid_from, max(ts) AS valid_to
           FROM tagged GROUP BY 1, 2)
"""


# -- q137: peak concurrent state intervals per state
@query(
    "q137_max_concurrency",
    f"""
    WITH {_INTERVALS_SQL},
         pts AS (SELECT state AS g, valid_from AS ts, 1 AS delta FROM iv
                 UNION ALL
                 SELECT state AS g, valid_to AS ts, -1 AS delta FROM iv),
         run AS (SELECT g, sum(delta) OVER (PARTITION BY g
                                            ORDER BY ts, delta DESC
                                            ROWS UNBOUNDED PRECEDING) AS open
                 FROM pts)
    SELECT g AS state, CAST(max(open) AS BIGINT) AS peak_concurrency,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals
    FROM run GROUP BY g
    """,
)
def q137_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max simultaneously-open intervals per state via the endpoint
    sweep; +1 sorts before -1 at equal timestamps so touching
    intervals overlap, and tied rows then share a delta — every tie
    order yields the same prefix-sum multiset, keeping max(open)
    deterministic (operators/timeseries.max_concurrency)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    return max_concurrency(state_intervals(events))


# -- q138: median/MAD robust outliers on exact cents
@query(
    "q138_mad_outliers",
    f"""
    WITH t AS (SELECT event_type, CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
               FROM events),
         med AS (SELECT event_type, CAST(median(cents) AS DOUBLE) AS med_cents,
                        CAST(count(*) AS BIGINT) AS n
                 FROM t GROUP BY 1),
         dev AS (SELECT t.event_type, med.n, med.med_cents,
                        abs(t.cents - med.med_cents) AS adev
                 FROM t JOIN med USING (event_type)),
         mad AS (SELECT event_type, CAST(median(adev) AS DOUBLE) AS mad_cents
                 FROM dev GROUP BY 1)
    SELECT event_type, n, med_cents, mad_cents,
           CAST(sum(CASE WHEN adev > 4.4478 * mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
)
def q138_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median and MAD on integer cents, counting
    |x - med| > 4.4478*MAD: interpolated medians of integers land on
    the half-cent grid, making both engines' doubles identical — the
    reason the value column is cents, not raw floats
    (operators/stats.mad_outliers)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", bfround(F.col("value") * 100).cast("long").alias("cents")
    )
    return mad_outliers(events, group_col="event_type", cents_col="cents")


# -- q139: chi-square independence of (source, lang)
@query(
    "q139_chisq_independence",
    f"""
    WITH cells AS (SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS o
                   FROM documents GROUP BY 1, 2),
         rows_ AS (SELECT r, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY r),
         cols_ AS (SELECT c, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY c),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                        CAST(count(DISTINCT r) AS BIGINT) AS nr,
                        CAST(count(DISTINCT c) AS BIGINT) AS nc
                 FROM cells),
         grid AS (SELECT r, c, rn, cn, COALESCE(o, 0) AS o
                  FROM rows_ CROSS JOIN cols_
                  LEFT JOIN cells USING (r, c)),
         k AS (SELECT CAST({bfround_sql('''((CAST(o AS DOUBLE)
                                   - CAST(rn * cn AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(o AS DOUBLE)
                                     - CAST(rn * cn AS DOUBLE) / CAST(n AS DOUBLE))
                                  / (CAST(rn * cn AS DOUBLE) / CAST(n AS DOUBLE)))
                                 * 1000000000.0''', 0)} AS BIGINT) AS k_fp,
                      n, nr, nc
               FROM grid, tot)
    SELECT {bfround_sql('CAST(sum(k_fp) AS DOUBLE) / 1000000000.0', 6)} AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           n AS n_rows
    FROM k GROUP BY n, nr, nc
    """,
)
def q139_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is document language independent of source?  (O-E)^2/E per cell
    from exact integer counts in identical IEEE steps (explicit x*x,
    never pow), snapped to nano fixed point, integer-summed
    (operators/stats.chisq_independence)."""
    docs = load_table(spark, sf_dir, "documents")
    return chisq_independence(docs, row_col="source", col_col="lang")


# -- q140: per-type OLS trend of daily counts, integer co-moments
@query(
    "q140_trend_slopes",
    """
    WITH daily AS (SELECT event_type,
                          CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                               AS BIGINT) AS d,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1, 2)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(*) * sum(d * y) - sum(d) * sum(y) AS DOUBLE)
           / CAST(count(*) * sum(d * d) - sum(d) * sum(d) AS DOUBLE)
             AS slope_per_day
    FROM daily GROUP BY 1
    """,
)
def q140_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count trend per event type: five exact integer co-moment
    sums, one final float division — bit-identical across engines and
    partitionings (operators/stats.trend_slopes)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.to_date(F.col("ts")), F.to_date(F.lit("1970-01-01")))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return trend_slopes(daily, group_col="event_type", day_col="d", count_col="y")
