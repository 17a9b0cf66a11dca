"""M32 — stream-vs-history dedup, optimizer statistics, audience
overlap, market share, bounded BFS (round 3, fifteenth wave).

q152 runs REAL Structured Streaming: new events anti-joined against a
static first-half fingerprint set (the incremental-ingest dedup shape);
q153 audits a histogram-based join-cardinality ESTIMATE against the
exact join size — the statistic a cost-based optimizer lives on; q154
is the audience-overlap bitmask report; q155 is the TPC-H Q8-shaped
market-share query (share of revenue supplied from one region, per
year); q156 is bounded-hop BFS from a seed set over the co-purchase
graph.

Registered after m31 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_events_stream, load_table
from ..operators.graph_metrics import bfs_distances, copurchase_edges, undirect
from ..pin import pin
from ..queries import query
from ..streaming.bounded import run_stream_to_table
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_CUTOFF = "2024-01-16"
_CENTS = f"CAST({bfround_sql('value * 100', 0)} AS BIGINT)"


# -- q152: streaming ingest deduplicated against a static history
@query(
    "q152_stream_history_dedup",
    f"""
    WITH hist AS (SELECT DISTINCT user_id, event_type, {_CENTS} AS cents
                  FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'),
         new_ AS (SELECT e.event_type, {_CENTS.replace('value', 'e.value')} AS cents
                  FROM events e
                  WHERE e.ts >= TIMESTAMP '{_CUTOFF}'
                    AND NOT EXISTS (SELECT 1 FROM hist
                                    WHERE hist.user_id = e.user_id
                                      AND hist.event_type = e.event_type
                                      AND hist.cents = {_CENTS.replace('value', 'e.value')}))
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(cents) AS BIGINT) AS cents_new
    FROM new_ GROUP BY 1
    """,
)
def q152_stream_history_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-half events streamed through a STREAM-STATIC LEFT ANTI
    join against the first half's (user, type, cents) fingerprints,
    then aggregated — the exactly-once-shaped "drop what the lake
    already has" ingest path; the static side is the broadcastable
    fingerprint projection, never full rows."""
    cents = bfround(F.col("value") * 100).cast("long")
    hist = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
        .select("user_id", "event_type", cents.alias("cents"))
        .distinct()
    )

    def transform(stream: DataFrame) -> DataFrame:
        new = stream.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp")).select(
            "user_id", "event_type", cents.alias("cents")
        )
        surv = new.join(hist, ["user_id", "event_type", "cents"], "left_anti")
        return surv.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum("cents").cast("long").alias("cents_new"),
        )

    stream = load_events_stream(spark, sf_dir)
    return run_stream_to_table(
        spark, stream, transform, "q152_hist_dedup", output_mode="complete"
    )


# -- q153: histogram join-cardinality estimate vs exact
@query(
    "q153_join_cardinality",
    f"""
    WITH ha AS (SELECT user_id % 64 AS bkt, CAST(count(*) AS BIGINT) AS ca,
                       CAST(count(DISTINCT user_id) AS BIGINT) AS da
                FROM events GROUP BY 1),
         hb AS (SELECT o_custkey % 64 AS bkt, CAST(count(*) AS BIGINT) AS cb,
                       CAST(count(DISTINCT o_custkey) AS BIGINT) AS db
                FROM orders GROUP BY 1),
         est AS (SELECT CAST(sum((ca * cb * 1000000)
                                 // greatest(da, db)) AS BIGINT) AS est_fp
                 FROM ha JOIN hb USING (bkt)),
         act AS (SELECT CAST(sum(ka.c * kb.c) AS BIGINT) AS actual
                 FROM (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
                       FROM events GROUP BY 1) ka
                 JOIN (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
                       FROM orders GROUP BY 1) kb USING (k))
    SELECT est_fp, actual,
           {bfround_sql('''abs(CAST(est_fp AS DOUBLE) / 1000000.0
                     - CAST(actual AS DOUBLE)) / CAST(actual AS DOUBLE)''', 6)}
             AS rel_err
    FROM est, act
    """,
)
def q153_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistic audit: per-bucket (count,
    distinct) histograms on both join inputs give the containment
    estimate sum(ca*cb / max(da, db)) in micro fixed point (integer
    division — no float enters the sum); the exact answer is
    sum-over-keys of count products.  One row: estimate, actual,
    relative error."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    ha = events.groupBy((F.col("user_id") % 64).alias("bkt")).agg(
        F.count(F.lit(1)).cast("long").alias("ca"),
        F.count_distinct("user_id").cast("long").alias("da"),
    )
    hb = orders.groupBy((F.col("o_custkey") % 64).alias("bkt")).agg(
        F.count(F.lit(1)).cast("long").alias("cb"),
        F.count_distinct("o_custkey").cast("long").alias("db"),
    )
    est = (
        ha.join(hb, "bkt")
        .select(
            F.expr("(ca * cb * 1000000) div greatest(da, db)").alias("e")
        )
        .agg(F.sum("e").cast("long").alias("est_fp"))
    )
    ka = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c_a")
    )
    kb = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c_b")
    )
    act = (
        ka.join(kb, "k")
        .select((F.col("c_a") * F.col("c_b")).alias("p"))
        .agg(F.sum("p").cast("long").alias("actual"))
    )
    return est.crossJoin(F.broadcast(act)).select(
        "est_fp",
        "actual",
        bfround(F.abs(
                F.col("est_fp").cast("double") / 1000000.0
                - F.col("actual").cast("double")
            )
            / F.col("actual").cast("double"), 6).alias("rel_err"),
    )


# -- q154: audience overlap bitmask distribution
@query(
    "q154_audience_overlap",
    """
    WITH m AS (SELECT user_id,
                      bit_or(CASE event_type WHEN 'click' THEN 1
                                             WHEN 'error' THEN 2
                                             WHEN 'purchase' THEN 4
                                             WHEN 'signup' THEN 8
                                             WHEN 'view' THEN 16 END) AS mask
               FROM events WHERE ts < TIMESTAMP '2024-01-03' GROUP BY 1)
    SELECT CAST(mask AS BIGINT) AS mask, CAST(count(*) AS BIGINT) AS n_users
    FROM m GROUP BY 1
    """,
)
def q154_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event-type combinations do users span (first two days —
    over the full month every user saturates to mask 31)?  Per-user
    bitmask (bit_or of alphabetical type bits) then a histogram over
    the <= 31 masks — the audience-overlap report computed in two
    combinable aggregations, no pairwise self-joins."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "view", 16)
    )
    m = events.groupBy("user_id").agg(F.bit_or(bit).alias("mask"))
    return m.groupBy(F.col("mask").cast("long").alias("mask")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# -- q155: market share of one region's suppliers, per order year
@query(
    "q155_market_share",
    f"""
    WITH rev AS (SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
                        r.r_name AS region,
                        CAST({bfround_sql('l.l_extendedprice * (1 - l.l_discount) * 100', 0)}
                             AS BIGINT) AS fp
                 FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 JOIN nation n ON s.s_nationkey = n.n_nationkey
                 JOIN region r ON n.n_regionkey = r.r_regionkey),
         tot AS (SELECT yr, CAST(sum(fp) AS BIGINT) AS total_fp FROM rev GROUP BY 1),
         eu AS (SELECT yr, CAST(sum(fp) AS BIGINT) AS eu_fp FROM rev
                WHERE region = 'EUROPE' GROUP BY 1)
    SELECT tot.yr, {bfround_sql('CAST(COALESCE(eu_fp, 0) AS DOUBLE) / 100', 2)} AS europe_revenue,
           {bfround_sql('CAST(total_fp AS DOUBLE) / 100', 2)} AS total_revenue,
           {bfround_sql('CAST(COALESCE(eu_fp, 0) AS DOUBLE) / CAST(total_fp AS DOUBLE)', 6)}
             AS share
    FROM tot LEFT JOIN eu ON eu.yr = tot.yr
    """,
)
def q155_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: EUROPE-supplied share of yearly revenue.  All
    dimension joins broadcast (supplier/nation/region), the single fact
    shuffle is lineitem x orders; revenue rounds to exact cents per row
    before the integer sums, and the share is one division of two exact
    integers."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    fp = bfround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("r_name").alias("region"),
            fp.alias("fp"),
        )
    )
    # r12 OPTIMIZATION (guide §2.4 "aggregate before you shuffle"): tot
    # and eu were two separate aggregates over rev — the whole 5-table
    # fact join ran TWICE (10 scans in the before-plan).  One
    # conditional aggregate computes both integer sums in a single fact
    # pass; the EUROPE conditional sum is exactly COALESCE(eu_fp, 0) of
    # the old left join (both are sums of the same exact cents rows).
    agg = rev.groupBy("yr").agg(
        F.sum("fp").cast("long").alias("total_fp"),
        F.sum(F.when(F.col("region") == "EUROPE", F.col("fp")).otherwise(F.lit(0)))
        .cast("long")
        .alias("eu_fp"),
    )
    return agg.select(
        "yr",
        bfround(F.col("eu_fp").cast("double") / 100, 2).alias("europe_revenue"),
        bfround(F.col("total_fp").cast("double") / 100, 2).alias("total_revenue"),
        bfround(F.col("eu_fp").cast("double")
            / F.col("total_fp").cast("double"), 6).alias("share"),
    )


# -- q156: bounded-hop BFS from a seed set
@query(
    "q156_bfs_3hop",
    """
    WITH items AS MATERIALIZED (
             SELECT ok, pk
             FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
             QUALIFY count(*) OVER (PARTITION BY ok) <= 256),
         edges AS MATERIALIZED (
             SELECT a.pk AS src, b.pk AS dst
             FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
             GROUP BY 1, 2),
         und AS MATERIALIZED (
             SELECT src AS u, dst AS v FROM edges
             UNION ALL SELECT dst AS u, src AS v FROM edges),
         seeds AS (SELECT DISTINCT u AS node FROM und WHERE u % 1000 = 0),
         r0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
         -- frontier-only synchronous BFS: round k expands ONLY the
         -- nodes first reached at distance k-1 (fk-1); expanding
         -- settled nodes again can only produce distances their min
         -- already beats, so the result is identical to the full
         -- re-expansion — but the per-round join is |frontier|-bounded
         -- instead of |reached|-bounded, which is what let the former
         -- unrolling exceed the sf3 watchdog (every round re-walked
         -- nearly the whole edge list).  CTEs are MATERIALIZED so the
         -- quadratic-per-basket edge build runs once, not per round
         -- (the q128/q142 pattern).
         p1 AS (SELECT und.v AS node, r0.dist + 1 AS dist
                FROM und JOIN r0 ON r0.node = und.u),
         r1 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist
                FROM (SELECT * FROM r0 UNION ALL SELECT * FROM p1) GROUP BY node),
         f1 AS (SELECT node, dist FROM r1 WHERE dist = 1),
         p2 AS (SELECT und.v AS node, f1.dist + 1 AS dist
                FROM und JOIN f1 ON f1.node = und.u),
         r2 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist
                FROM (SELECT * FROM r1 UNION ALL SELECT * FROM p2) GROUP BY node),
         f2 AS (SELECT node, dist FROM r2 WHERE dist = 2),
         p3 AS (SELECT und.v AS node, f2.dist + 1 AS dist
                FROM und JOIN f2 ON f2.node = und.u),
         r3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist
                FROM (SELECT * FROM r2 UNION ALL SELECT * FROM p3) GROUP BY node)
    SELECT node, dist FROM r3
    """,
)
def q156_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Everything within 3 hops of the seed parts (keys % 1000 == 0):
    three synchronous frontier expansions, each one equi-join + one
    combinable min — the fixed-depth reachability audit
    (operators/graph_metrics.bfs_distances)."""
    edges = pin(copurchase_edges(load_table(spark, sf_dir, "lineitem")))
    seeds = undirect(edges).select(F.col("u").alias("node")).filter(
        F.col("node") % 1000 == 0
    )
    return bfs_distances(edges, seeds, max_hops=3)
