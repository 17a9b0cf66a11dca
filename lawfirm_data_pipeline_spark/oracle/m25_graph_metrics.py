"""M25 — whole-graph analytics on the co-purchase graph (round 3,
eighth wave).

Graph = parts as nodes, an edge when two parts appear in the same
order.  q126 is the degree-structure audit a pipeline runs before
choosing a join/triangle strategy; q127 is degree-oriented triangle
counting (the skew-proof distributed shape); q128 is synchronous
PageRank in pure integer fixed point — deterministic enough to
hash-match an unrolled SQL oracle, which floating-point PageRank can
never do.

Registered after m24 — outside round 3's 50-query window; round-4
rotation: m18-m25 register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..operators.graph_metrics import (
    copurchase_edges,
    degree_histogram,
    pagerank_fixed,
    triangle_counts,
)
from ..queries import query

# Shared DuckDB edge build: distinct (order, part) items self-joined per
# order (bounded by order size), canonical src < dst orientation.
# NOT materialized: q127's triangle three-way self-join needs the
# inlined form for join pushdown (MATERIALIZED regressed it 9.9 s ->
# 187 s at sf1); q128's iterative unroll needs the OPPOSITE and
# carries its own MATERIALIZED copy below.
_EDGES_SQL = """
    items AS (SELECT ok, pk
              FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
              QUALIFY count(*) OVER (PARTITION BY ok) <= 256),
    edges AS (SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS BIGINT) AS weight
              FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
              GROUP BY 1, 2),
    und AS (SELECT src AS u, dst AS v FROM edges
            UNION ALL
            SELECT dst AS u, src AS v FROM edges)
"""

# q128's variant (r9): DuckDB inlines CTEs by default, so the 3-round
# PageRank unroll re-evaluated the distinct+self-join edge build per
# round reference and the oracle ran >500 s at sf1; materializing the
# multi-consumer items/edges/und trees cuts it to ~14 s (results
# byte-identical — the hint is planner-only).
_EDGES_SQL_MAT = """
    items AS MATERIALIZED (
        SELECT ok, pk
        FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        QUALIFY count(*) OVER (PARTITION BY ok) <= 256),
    edges AS MATERIALIZED (
        SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS BIGINT) AS weight
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2),
    und AS MATERIALIZED (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst AS u, src AS v FROM edges)
"""

_PR_ITER = """
    {next} AS (SELECT p.u, p.d, p.base15,
                      CAST(p.base15 // 100 + (85 * COALESCE(c.s, 0)) // 100
                           AS BIGINT) AS r
               FROM {prev} p
               LEFT JOIN (SELECT und.v AS u, SUM({prev}.r // {prev}.d) AS s
                          FROM und JOIN {prev} ON {prev}.u = und.u
                          GROUP BY und.v) c ON c.u = p.u)
"""


# -- q126: degree histogram of the co-purchase graph
@query(
    "q126_copurchase_degrees",
    f"""
    WITH {_EDGES_SQL},
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY u)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def q126_copurchase_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram: per-order bounded self-join -> two map-side
    combinable aggs; output cardinality = number of distinct degrees
    (operators/graph_metrics.degree_histogram)."""
    return degree_histogram(copurchase_edges(load_table(spark, sf_dir, "lineitem")))


# -- q127: degree-oriented triangle counting
@query(
    "q127_triangle_count",
    f"""
    WITH {_EDGES_SQL},
         tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                 FROM edges e1
                 JOIN edges e2 ON e2.src = e1.dst
                 JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst)
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node
    """,
)
def q127_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts.  Spark enumerates wedges under degree
    orientation (hub-proof: work ~ sum(out_deg^2), out_deg ~ sqrt|E|);
    the oracle uses the simple a<b<c id orientation — triangle counts
    are orientation-independent, so the hashes still match
    (operators/graph_metrics.triangle_counts)."""
    return triangle_counts(copurchase_edges(load_table(spark, sf_dir, "lineitem")))


# -- q128: integer fixed-point PageRank, 3 synchronous rounds
@query(
    "q128_pagerank",
    f"""
    WITH {_EDGES_SQL_MAT},
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         i0 AS (SELECT u, d, 1000000000000 // n AS r,
                       CAST(15 * (1000000000000 // n) AS BIGINT) AS base15
                FROM deg, nn),
         {_PR_ITER.format(prev="i0", next="i1")},
         {_PR_ITER.format(prev="i1", next="i2")},
         {_PR_ITER.format(prev="i2", next="i3")}
    SELECT u AS node, r AS rank_fp,
           CAST(r AS DOUBLE) / 1000000000000.0 AS rank
    FROM i3
    """,
)
def q128_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous PageRank, damping 0.85, 3 rounds, pico fixed point:
    contributions are `rank_fp div degree`, damping is `(85*sum) div
    100` — integer arithmetic end to end, so the distributed result is
    bit-identical to the single-threaded unrolled oracle
    (operators/graph_metrics.pagerank_fixed)."""
    return pagerank_fixed(copurchase_edges(load_table(spark, sf_dir, "lineitem")), iters=3)
