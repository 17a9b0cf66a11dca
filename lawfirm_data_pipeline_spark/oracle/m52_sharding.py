"""M52 — shard-placement and skew-planning ops (round 3 continuation).

SURVEY §2.A28 replaced the reference's @effect/cluster sharding with
Spark scheduling; these queries cover the two placement computations a
data platform still owns above the scheduler:

* q210 — consistent-hash reshard audit: when the shard count grows
  8 -> 9, what fraction of keys move under a 64-vnode hash ring vs
  naive ``key mod n``?  The ring's ~1/9 vs mod's ~8/9 is THE reason
  consistent hashing exists; this measures it on real keys.
* q211 — shuffle-skew salting planner: per-key shuffle share from one
  count aggregate, and the salt factor each hot key needs to fit a
  target partition budget — the number q157's salted join takes as
  input, derived instead of guessed.

Registered after m51 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_VNODES = 64
_RING = 1 << 32


def _pos_sql(expr: str) -> str:
    return f"('0x' || substring(md5({expr}), 1, 8))::BIGINT"


# -- q210: consistent-hash vs mod resharding, moved-key audit
@query(
    "q210_reshard_audit",
    f"""
    WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
         kpos AS (SELECT k, {_pos_sql("'key:' || CAST(k AS VARCHAR)")} AS pos
                  FROM keys),
         vn AS (SELECT s.shard, v.v,
                       {_pos_sql("'vn:' || CAST(s.shard AS VARCHAR) || ':' || CAST(v.v AS VARCHAR)")}
                         AS pos
                FROM (SELECT unnest(generate_series(0, 8)) AS shard) s,
                     (SELECT unnest(generate_series(0, {_VNODES - 1})) AS v) v),
         ring8 AS (SELECT pos, shard FROM vn WHERE shard < 8),
         ring9 AS (SELECT pos, shard FROM vn),
         a8 AS (SELECT k.k,
                       coalesce((SELECT r.shard FROM ring8 r WHERE r.pos >= k.pos
                                 ORDER BY r.pos, r.shard LIMIT 1),
                                (SELECT r.shard FROM ring8 r
                                 ORDER BY r.pos, r.shard LIMIT 1)) AS shard
                FROM kpos k),
         a9 AS (SELECT k.k,
                       coalesce((SELECT r.shard FROM ring9 r WHERE r.pos >= k.pos
                                 ORDER BY r.pos, r.shard LIMIT 1),
                                (SELECT r.shard FROM ring9 r
                                 ORDER BY r.pos, r.shard LIMIT 1)) AS shard
                FROM kpos k),
         ch AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN a8.shard != a9.shard THEN 1 ELSE 0 END)
                            AS BIGINT) AS moved
                FROM a8 JOIN a9 USING (k)),
         md AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN k % 8 != k % 9 THEN 1 ELSE 0 END)
                            AS BIGINT) AS moved
                FROM keys)
    SELECT 'consistent' AS strategy, n, moved,
           {bfround_sql('CAST(moved AS DOUBLE) / n', 6)} AS moved_share
    FROM ch
    UNION ALL
    SELECT 'mod', n, moved, {bfround_sql('CAST(moved AS DOUBLE) / n', 6)} FROM md
    """,
)
def q210_reshard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys and vnodes hash onto a 2^32 ring (md5 positions); a key
    belongs to the first vnode clockwise.  The Spark plan resolves
    "first vnode >= position" sort-free: the ring is ~600 entries, so
    it rides as a sorted-array literal and each key folds over it once
    inside codegen — no per-key subquery, no join explosion (the
    DuckDB oracle states the same rule as correlated subqueries,
    affordable at oracle scale).
    Growing 8->9 shards moves ~1/9 of keys on the ring and ~8/9 under
    mod — the measured case for stable-hash placement."""
    keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    kpos = keys.select(
        "k",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("key:"), F.col("k").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long").alias("pos"),
    )

    def ring(n_shards: int) -> list[tuple[int, int]]:
        import hashlib

        vns = []
        for shard in range(n_shards):
            for v in range(_VNODES):
                h = int(hashlib.md5(f"vn:{shard}:{v}".encode()).hexdigest()[:8], 16)
                vns.append((h, shard))
        # sort by (pos, shard) — ties resolved identically to the oracle
        return sorted(vns)

    # Both ring assignments in ONE pass: the 8-shard ring is exactly
    # the shard<8 subset of the 9-shard ring (vnode hash depends only
    # on (shard, v)), so one broadcast row carries both rings as
    # parallel arrays and each key folds over each ring once — no
    # second orders scan/distinct, no key-key join.  The wrap-around
    # target (first vnode on the ring) is key-independent, so it rides
    # as a driver-computed literal instead of a per-row array_min (the
    # q183 literal-array lesson still applies: arrays materialize on
    # the build side, never per row).
    vns9 = ring(9)
    vns8 = [t for t in vns9 if t[1] < 8]
    wrap8, wrap9 = min(vns8)[1], min(vns9)[1]

    # Each ring entry packs to ONE long, pos*16 + shard (shard <= 8
    # fits in 4 bits; pos < 2^32 keeps the product < 2^36).  The
    # packing preserves (pos, shard) order, so "first vnode clockwise"
    # is array_min over a filtered LONG array — plain integer compares
    # in codegen.  The previous zip_with form allocated a struct per
    # ring entry per key (~1,100 per key across both rings), which
    # dominated the sf1 profile (15.3 s, the heaviest sf1 query).
    #
    # JVM literal relation, NOT createDataFrame: a Python-backed local
    # relation re-pays ~2 s of Python-worker roundtrips on EVERY job
    # that materializes it (32 mostly-empty pickled partitions); the
    # SQL literal parses once and lives entirely JVM-side.
    def _packed(vns: list[tuple[int, int]]) -> str:
        return f"array({', '.join(str(p * 16 + s) + 'L' for p, s in vns)})"

    ringdf = spark.sql(
        "SELECT "
        + _packed(vns8) + " AS ring8, "
        + _packed(vns9) + " AS ring9"
    )

    def clockwise(ring_col: str, wrap_shard: int) -> F.Column:
        # min packed entry clockwise of the key; the coalesce wraps
        # around to the ring start (key-independent driver literal)
        cand = F.array_min(
            F.filter(ring_col, lambda c: c >= F.col("pos") * 16)
        )
        return F.coalesce(cand % 16, F.lit(wrap_shard)).cast("int")

    assigned = kpos.crossJoin(F.broadcast(ringdf)).select(
        "k",
        clockwise("ring8", wrap8).alias("s8"),
        clockwise("ring9", wrap9).alias("s9"),
    )
    ch = (
        assigned
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("s8") != F.col("s9")).cast("int")).cast("long").alias("moved"),
        )
        .select(
            F.lit("consistent").alias("strategy"),
            "n",
            "moved",
            bfround(F.col("moved") / F.col("n"), 6).alias("moved_share"),
        )
    )
    md = keys.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("k") % 8) != (F.col("k") % 9)).cast("int"))
        .cast("long")
        .alias("moved"),
    ).select(
        F.lit("mod").alias("strategy"),
        "n",
        "moved",
        bfround(F.col("moved") / F.col("n"), 6).alias("moved_share"),
    )
    return ch.unionByName(md)


# -- q211: shuffle-skew salting planner
@query(
    "q211_salt_planner",
    f"""
    WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
               FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                      CAST(count(*) AS BIGINT) AS n_keys
               FROM c),
         b AS (SELECT CAST(ceil(CAST(t.total AS DOUBLE) / 32 / 4) AS BIGINT)
                 AS budget FROM t)
    SELECT c.key, c.cnt,
           {bfround_sql('CAST(c.cnt AS DOUBLE) / t.total', 6)} AS share,
           CAST(ceil(CAST(c.cnt AS DOUBLE) / b.budget) AS BIGINT) AS salt_factor
    FROM c, t, b
    WHERE c.cnt > b.budget
    """,
)
def q211_salt_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which shuffle keys exceed a per-partition row budget (total /
    32 partitions / 4 safety), and the salt factor that splits each
    back under it — q157's salted join takes this as its input.  One
    combinable count aggregate; the planner algebra runs on the hot-key
    summary only, so 'derive the salt map' costs one scan at any
    fact size."""
    c = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    t = c.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    withb = c.crossJoin(F.broadcast(t)).withColumn(
        "budget", F.ceil(F.col("total").cast("double") / 32 / 4).cast("long")
    )
    return (
        withb.filter(F.col("cnt") > F.col("budget"))
        .select(
            "key",
            "cnt",
            bfround(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.ceil(F.col("cnt").cast("double") / F.col("budget"))
            .cast("long")
            .alias("salt_factor"),
        )
    )
