"""M33 — salted-join equivalence, time-weighted averages, layout
economics, group digests (round 3, sixteenth wave).

q157 puts the second skew operator (`skew.salted_join`) under the
oracle: the salted plan must reproduce the plain join bit-for-bit.
q158 is the time-weighted average (value holds until the next event) —
the TWAP/occupancy statistic naive AVG gets wrong; q159 prices a
delta-encoding layout (bit-length of per-user timestamp deltas vs raw
64-bit) — the storage-engineering estimate behind sorted layouts; q160
fingerprints each user's event multiset with an order-independent
bit_xor digest and audits collisions.

Registered after m32 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.skew import salted_join
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q157: salted join == plain join (skew mitigation is invisible)
@query(
    "q157_salted_join",
    """
    WITH dim AS (SELECT o_custkey AS user_id, CAST(count(*) AS BIGINT) AS n_orders
                 FROM orders WHERE o_custkey <= 150 GROUP BY 1)
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_joined,
           CAST(sum(dim.n_orders) AS BIGINT) AS sum_orders
    FROM events e JOIN dim ON dim.user_id = e.user_id
    GROUP BY 1
    """,
)
def q157_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact side is salted into 8 sub-keys and the dimension
    exploded once per salt — hot fact keys spread across 8 shuffle
    partitions — and the oracle states the PLAIN join: salting must be
    semantically invisible (operators/skew.salted_join)."""
    events = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 150)
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    joined = salted_join(events, dim, on="user_id", n_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_joined"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
    )


# -- q158: time-weighted average value per user timeline
@query(
    "q158_twap",
    f"""
    WITH seq AS (SELECT user_id, CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents,
                        epoch_us(ts) AS t0,
                        epoch_us(lead(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)) AS t1
                 FROM events WHERE user_id % 7 = 0),
         iv AS (SELECT user_id, cents, t1 - t0 AS dt
                FROM seq WHERE t1 IS NOT NULL)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
           {bfround_sql('CAST(sum(cents * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)', 6)}
             AS twap_cents
    FROM iv GROUP BY 1
    """,
)
def q158_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event's value holds until the user's next event; the
    time-weighted mean is sum(cents*dt)/sum(dt) over exact integer
    microsecond weights (per-user products stay far under int64) —
    one lead window sharing the aggregation's user partitioning."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        bfround(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros(F.col("ts")).alias("t0"),
        F.unix_micros(F.lead("ts").over(w)).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    iv = seq.select("user_id", "cents", (F.col("t1") - F.col("t0")).alias("dt"))
    # r10 q227-class audit: cents × µs-gap products reach
    # max_cents · user_span_µs (≈3e18 for a $10k value held 10 years —
    # only 3× short of 2^63); DECIMAL(19,0)² → d38 sums are exact for
    # any long cents/gap, then one cast to double
    d19 = "decimal(19,0)"
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        bfround(F.sum(F.col("cents").cast(d19) * F.col("dt").cast(d19)).cast("double")
            / F.sum("dt").cast("double"), 6).alias("twap_cents"),
    )


# -- q159: delta-encoding size estimate for the event timeline
@query(
    "q159_delta_bits",
    f"""
    WITH seq AS (SELECT epoch_us(ts)
                        - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)) AS delta
                 FROM events),
         b AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(sum(CASE WHEN delta IS NULL THEN 64
                                    ELSE length(bin(delta)) END) AS BIGINT)
                        AS delta_bits
               FROM seq)
    SELECT n_rows, CAST(64 * n_rows AS BIGINT) AS raw_bits, delta_bits,
           {bfround_sql('CAST(delta_bits AS DOUBLE) / CAST(64 * n_rows AS DOUBLE)', 6)}
             AS ratio
    FROM b
    """,
)
def q159_delta_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What would sorting by (user, ts) buy a delta-encoded timestamp
    column?  Bit-length of each per-user delta (binary-string length —
    exact integers on both engines; run heads cost the full 64) summed
    against the raw 64-bit layout — the storage-economics estimate
    behind choosing a sort key."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias("delta")
    )
    b = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("delta").isNull(), 64).otherwise(
                F.length(F.bin(F.col("delta")))
            )
        )
        .cast("long")
        .alias("delta_bits"),
    )
    return b.select(
        "n_rows",
        (F.lit(64) * F.col("n_rows")).cast("long").alias("raw_bits"),
        "delta_bits",
        bfround(F.col("delta_bits").cast("double")
            / (F.lit(64) * F.col("n_rows")).cast("double"), 6).alias("ratio"),
    )


# -- q160: order-independent per-user digests + collision audit
@query(
    "q160_group_digests",
    f"""
    WITH d AS (SELECT user_id,
                      bit_xor(('0x' || substring(md5(concat_ws(chr(1),
                          event_type, CAST(CAST({bfround_sql('value * 100', 0)} AS BIGINT)
                                           AS VARCHAR))), 1, 15))::BIGINT) AS dig
               FROM events GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(DISTINCT dig) AS BIGINT) AS n_digests,
           count(*) = count(DISTINCT dig) AS all_unique
    FROM d
    """,
)
def q160_group_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-multiset fingerprint: bit_xor of 60-bit md5
    prefixes — commutative like q151's checksum but per GROUP, the
    digest a partitioned replication audit compares group-by-group;
    the query reports the collision audit (xor digests collide when a
    user's multiset has duplicate pairs — counted, not hidden)."""
    events = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x01",
                    F.col("event_type"),
                    bfround(F.col("value") * 100).cast("long").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    d = events.groupBy("user_id").agg(F.bit_xor(h).alias("dig"))
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count_distinct("dig").cast("long").alias("n_digests"),
        (F.count(F.lit(1)) == F.count_distinct("dig")).alias("all_unique"),
    )
