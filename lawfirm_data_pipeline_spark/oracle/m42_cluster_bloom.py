"""M42 — k-means clustering, winnowing substring dedup, Bloom-pruned
semi-join, and behavioral Markov transitions (round 3 continuation).

Four operators the charter surface still lacked after m41:

* q181 — full Lloyd k-means (the clustering step between dedup and
  mixture design; IVF training only approximates its first pass);
* q182 — winnowing fingerprints, the SUBSTRING-level duplicate
  detector the set-based Jaccard/MinHash family cannot express;
* q183 — a runtime-Bloom-style semi-join prune built from public
  primitives, value-gated to the plain semi-join (q157 discipline:
  optimizations must be invisible in values);
* q184 — first-order Markov transition matrix over per-user event
  streams (the product-analytics complement of q107's funnel and
  q135's path extraction).

Registered after m41 — outside round 3's 50-query window; the round-4
rotation note in ``oracle/__init__.py`` front-loads m18+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.bloomjoin import bloom_semi_join
from ..operators.clustering import kmeans_fixed
from ..operators.dedup import winnow_overlap_pairs
from ..queries import query
from ._shared import (
    LTOKS_SQL as _LTOKS,
    PLANTED_CORPUS_SQL as _CORPUS_SQL,
    planted_corpus as _planted_corpus,
)
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q181: fixed-iteration Lloyd k-means on the embeddings table
@query(
    "q181_kmeans_clusters",
    f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding::DOUBLE[],
                                     x -> CAST({bfround_sql('x * 1e6', 0)} AS BIGINT)) AS v
               FROM embeddings),
         vl AS (SELECT vec_id, i AS pos, v[i] AS x
                FROM v, unnest(generate_series(1, 64)) AS t(i)),
         c0 AS (SELECT vec_id AS cid, i AS pos, v[i] AS c
                FROM v, unnest(generate_series(1, 64)) AS t(i)
                WHERE vec_id < 8),
         d1 AS (SELECT vl.vec_id, c0.cid,
                       CAST(sum((vl.x - c0.c) * (vl.x - c0.c)) AS BIGINT) AS dist
                FROM vl JOIN c0 ON vl.pos = c0.pos GROUP BY 1, 2),
         a1 AS (SELECT vec_id, cid FROM
                  (SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist, cid) AS rn
                   FROM d1) WHERE rn = 1),
         c1 AS (SELECT a1.cid, vl.pos,
                       CAST(floor(CAST(sum(vl.x) AS DOUBLE) / count(*)) AS BIGINT) AS c
                FROM a1 JOIN vl USING (vec_id) GROUP BY 1, 2),
         d2 AS (SELECT vl.vec_id, c1.cid,
                       CAST(sum((vl.x - c1.c) * (vl.x - c1.c)) AS BIGINT) AS dist
                FROM vl JOIN c1 ON vl.pos = c1.pos GROUP BY 1, 2),
         a2 AS (SELECT vec_id, cid, dist FROM
                  (SELECT vec_id, cid, dist,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY dist, cid) AS rn
                   FROM d2) WHERE rn = 1)
    SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(dist) AS BIGINT) AS wcss_fp,
           {bfround_sql('CAST(sum(dist) AS DOUBLE) / count(*) / 1e12', 6)} AS mean_sq_dist
    FROM a2 GROUP BY 1
    """,
)
def q181_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations from the vec_id<8 seed: broadcast-argmin
    assignment (zero fact shuffle), combinable (cluster, dim) recompute
    collecting k x dim longs, all arithmetic micro-fixed-point exact —
    the trajectory is bit-identical under any partitioning
    (operators/clustering.kmeans_fixed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixed(emb, k=8, iters=2)


# -- q182: winnowing fingerprint overlap (substring-level near-dup)
@query(
    "q182_winnow_overlap",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS toks FROM corpus),
         g AS (SELECT doc_id,
                      list_transform(
                        generate_series(1, greatest(len(toks) - 3, 0)),
                        i -> ('0x' || substring(
                                md5(array_to_string(toks[i:i+3], ' ')), 1, 15)
                             )::BIGINT) AS h
               FROM t),
         f AS (SELECT doc_id,
                      CASE WHEN len(h) >= 4 THEN
                             list_distinct(list_transform(
                               generate_series(1, len(h) - 3),
                               i -> list_min(h[i:i+3])))
                           WHEN len(h) > 0 THEN [list_min(h)]
                           ELSE [] END AS fps
               FROM g),
         x AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
                   FROM x GROUP BY 1),
         keep AS (SELECT fp FROM x GROUP BY fp HAVING count(*) <= 50),
         xs AS (SELECT x.doc_id, x.fp FROM x JOIN keep USING (fp)),
         shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           CAST(count(*) AS BIGINT) AS shared_fps
                    FROM xs a JOIN xs b
                      ON a.fp = b.fp AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
    SELECT doc_a, doc_b, shared_fps,
           {bfround_sql('CAST(shared_fps AS DOUBLE) / least(na.nf, nb.nf)', 6)} AS overlap
    FROM shared
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE 2 * shared_fps >= least(na.nf, nb.nf)
    """,
)
def q182_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (k=4, w=4) fingerprint pairs at containment-style
    overlap >= 1/2: the planted first-token-dropped copies share every
    k-gram hash past the first few and surface near 1.0, where their
    token-SET fingerprints (q31) may collapse entirely and their
    Jaccard (q32) dilutes with length.  Fingerprint selection is
    projection-only; the pairing join is df-capped at 50 docs/fp
    (operators/dedup.winnow_overlap_pairs)."""
    return winnow_overlap_pairs(_planted_corpus(spark, sf_dir), k=4, w=4)


# -- q183: Bloom-pruned semi-join, value-gated to the plain semi-join
@query(
    "q183_bloom_semijoin",
    f"""
    WITH dim AS (SELECT o_orderkey FROM orders
                 WHERE o_orderdate >= DATE '1996-01-01'
                   AND o_orderdate < DATE '1996-02-01'),
         matched AS (SELECT l.* FROM lineitem l
                     WHERE EXISTS (SELECT 1 FROM dim d
                                   WHERE d.o_orderkey = l.l_orderkey))
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST({bfround_sql('l_extendedprice * 100', 0)} AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM matched GROUP BY 1
    """,
)
def q183_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitems of one order-month via a Bloom-pruned semi-join: the
    dim keys fold into a 16 Kbit / 3-hash filter (bit_or word table,
    collected sketch-sized, re-emitted as a literal), the fact scan
    drops ~96% of itself in a projection BEFORE the exact leftsemi
    join shuffles what's left.  The oracle states the PLAIN semi-join
    — the prune must be value-invisible (operators/bloomjoin)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dim = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-02-01"))
    ).select("o_orderkey")
    matched = bloom_semi_join(li, dim, "l_orderkey", "o_orderkey", n_bits=1 << 14)
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(bfround(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# -- q184: first-order Markov transition matrix over user event streams
@query(
    "q184_event_transitions",
    f"""
    WITH s AS (SELECT user_id, event_type,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS nxt
               FROM events),
         c AS (SELECT event_type AS src, nxt AS dst,
                      CAST(count(*) AS BIGINT) AS n
               FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, n,
           {bfround_sql('''CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY src)''', 6)} AS p
    FROM c
    """,
)
def q184_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src -> dst) transition counts and row-normalized probabilities
    from each user's time-ordered event stream (event_id tie-break for
    determinism).  One shuffle keyed by user for the lead(), then the
    |event_types|^2-row matrix; the normalizing window runs over that
    ~25-row aggregate, not the events."""
    ev = load_table(spark, sf_dir, "events")
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    c = (
        ev.select("user_id", "event_type", nxt.alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return c.select(
        "src",
        "dst",
        "n",
        bfround(F.col("n") / F.sum("n").over(Window.partitionBy("src")), 6).alias("p"),
    )
