"""M27 — prefix-filter similarity join, SCD-2 intervals, zone-map
pruning, attribution (round 3, tenth wave).

q133 is the AllPairs/PPJoin prefix-filtering candidate strategy — the
exact-and-sub-quadratic third leg next to the df-cap gate (q32) and
MinHash LSH (q34); its oracle is the full quadratic self-join, proving
the filter loses no pair.  q134 collapses an event stream into
effective-dated state intervals (gaps-and-islands, one exchange).
q135 builds the per-partition min/max zone map a lakehouse reader
prunes with, and classifies every zone against a date predicate —
skip / full / partial.  q136 is last-touch marketing attribution via
paired IGNORE-NULLS windows.

Registered after m26 — outside round 3's 50-query window; round-4
rotation: m18-m27 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.behavior import last_touch_attribution
from ..operators.dedup import prefix_filter_jaccard_pairs
from ..operators.profile import zone_map, zone_map_prune
from ..operators.timeseries import state_intervals
from ..queries import query
from ._shared import (
    LTOKS_SQL as _LTOKS,
    PLANTED_CORPUS_SQL as _CORPUS_SQL,
    SHINGLES_SQL as _SHINGLES,
    planted_corpus as _planted_corpus,
)
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

# date-partition pruning predicate: mid-March 1997 .. mid-June 1998,
# as days since epoch (identical constants on both sides)
_DAY_LO, _DAY_HI = 9935, 10387


# -- q133: prefix-filtering exact Jaccard join (oracle = brute force)
@query(
    "q133_prefix_jaccard",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS toks FROM corpus),
         idx AS (SELECT DISTINCT doc_id AS did, unnest({_SHINGLES}) AS sh FROM t),
         sizes AS (SELECT did, CAST(count(*) AS BIGINT) AS sz FROM idx GROUP BY did),
         common AS (SELECT a.did AS da, b.did AS db, CAST(count(*) AS BIGINT) AS c
                    FROM idx a JOIN idx b ON a.sh = b.sh AND a.did < b.did
                    GROUP BY 1, 2)
    SELECT da AS ida, db AS idb,
           {bfround_sql('CAST(c AS DOUBLE) / (sa.sz + sb.sz - c)', 6)} AS jaccard
    FROM common JOIN sizes sa ON sa.did = da JOIN sizes sb ON sb.did = db
    WHERE 5 * c >= 4 * (sa.sz + sb.sz - c)
    """,
)
def q133_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard >= 4/5 pairs where candidates come from equi-joining
    frequency-ordered shingle PREFIXES (length sz - ceil(tau*sz) + 1,
    exact integer ceil); the oracle runs the unfiltered quadratic join
    — equal output proves zero false negatives.  Membership is decided
    by integer cross-multiplication, never a float
    (operators/dedup.prefix_filter_jaccard_pairs)."""
    return prefix_filter_jaccard_pairs(
        _planted_corpus(spark, sf_dir), threshold_num=4, threshold_den=5, n=3
    )


# -- q134: gaps-and-islands state intervals (SCD-2 history build)
@query(
    "q134_state_intervals",
    """
    WITH seq AS (SELECT user_id, ts, event_id, event_type,
                        CASE WHEN lag(event_type) OVER w IS NULL
                                  OR lag(event_type) OVER w != event_type
                             THEN 1 ELSE 0 END AS nw
                 FROM events WHERE user_id % 5 = 0
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         tagged AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id
                                                 ROWS UNBOUNDED PRECEDING)
                                   AS BIGINT) AS island
                    FROM seq)
    SELECT user_id, island, min(event_type) AS state,
           min(ts) AS valid_from, max(ts) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_events
    FROM tagged GROUP BY 1, 2
    """,
)
def q134_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal runs of equal state per user as effective-dated rows:
    boundary flag -> cumulative island id -> per-island aggregate, all
    sharing one user_id exchange
    (operators/timeseries.state_intervals)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    return state_intervals(events)


# -- q135: zone-map build + predicate pruning classification
@query(
    "q135_zonemap_prune",
    f"""
    WITH zm AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS part,
                       CAST(min(date_diff('day', DATE '1970-01-01', o_orderdate))
                            AS BIGINT) AS lo,
                       CAST(max(date_diff('day', DATE '1970-01-01', o_orderdate))
                            AS BIGINT) AS hi,
                       CAST(count(*) AS BIGINT) AS n_rows
                FROM orders GROUP BY 1)
    SELECT part, lo, hi, n_rows,
           CASE WHEN hi < {_DAY_LO} OR lo > {_DAY_HI} THEN 'skip'
                WHEN lo >= {_DAY_LO} AND hi <= {_DAY_HI} THEN 'full'
                ELSE 'partial' END AS decision
    FROM zm
    """,
)
def q135_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly min/max/count zones on the partition column, classified
    against a BETWEEN-dates predicate: skip / full / partial — the
    footer-stats pruning decision made explicit and assertable
    (operators/profile.zone_map + zone_map_prune)."""
    orders = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1970-01-01"))).cast("long")
    zm = zone_map(
        orders.withColumn("day_no", days),
        F.date_trunc("month", F.col("o_orderdate")),
        "day_no",
    )
    return zone_map_prune(zm, _DAY_LO, _DAY_HI)


# -- q136: last-touch attribution within a 7-day window
@query(
    "q136_attribution",
    f"""
    WITH t AS (SELECT user_id, ts, event_id, event_type,
                      CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents,
                      last_value(CASE WHEN event_type != 'purchase'
                                      THEN event_type END IGNORE NULLS)
                        OVER w AS src,
                      last_value(CASE WHEN event_type != 'purchase'
                                      THEN epoch_us(ts) END IGNORE NULLS)
                        OVER w AS src_us
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT CASE WHEN src_us IS NOT NULL AND epoch_us(ts) - src_us <= 604800000000
                THEN src ELSE 'none' END AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM t WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q136_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase credits the latest preceding non-purchase touch
    within 7 days (else 'none'): two IGNORE-NULLS last() windows share
    one frame so they agree on the winning row; value summed in exact
    cents (operators/behavior.last_touch_attribution)."""
    events = load_table(spark, sf_dir, "events")
    return last_touch_attribution(events, conversion_type="purchase")
