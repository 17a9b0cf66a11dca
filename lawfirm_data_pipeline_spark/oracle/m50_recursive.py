"""M50 — recursive CTE reachability (round 3 continuation).

Spark 4 ships standard ``WITH RECURSIVE``; until now every iterative
graph computation in this repo drove the loop from Python (q71's
min-label CC rounds, q156's bounded BFS joins).  q208 runs the SAME
class of computation — multi-hop reachability with min-depth — as ONE
declarative statement on both engines, which is the surface a SQL user
reaches for first.

The Python-driven loop remains the scale path for unbounded iteration
(it can checkpoint between rounds and stop on convergence); the
recursive CTE is the right tool for bounded-depth expansion, where the
optimizer sees the whole plan.

Registered after m49 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query

# bounded co-purchase subgraph: parts under 80, seeds = 3 fixed parts.
# depth <= 2 keeps the UNION ALL path expansion finite on any graph.
_EDGE_SQL = """
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    WHERE a.l_partkey < 80 AND b.l_partkey < 80
"""


# -- q208: multi-hop reachability via WITH RECURSIVE
@query(
    "q208_recursive_reach",
    f"""
    WITH RECURSIVE
      e0 AS ({_EDGE_SQL}),
      edges AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0),
      r(seed, node, depth) AS (
        SELECT s, s, 0 FROM (VALUES (1), (7), (42)) AS seeds(s)
        UNION ALL
        SELECT r.seed, e.dst, r.depth + 1
        FROM r JOIN edges e ON e.src = r.node
        WHERE r.depth < 2
      )
    SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
           CAST(min(depth) AS BIGINT) AS min_depth
    FROM r GROUP BY 1, 2
    """,
)
def q208_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes reachable within 2 hops of each seed part over the
    undirected co-purchase subgraph, with min hop depth — one
    ``WITH RECURSIVE`` statement, identical text on both engines.
    The depth cap bounds the UNION ALL expansion (paths, not visited
    sets — the declarative trade-off vs q156's frontier loop, which
    dedups per round and is the choice at unbounded depth).  The edge
    list reuses the q126 family's derivation, bounded to an
    80-part subgraph so path count stays small at any sf."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .filter((F.col("a.l_partkey") < 80) & (F.col("b.l_partkey") < 80))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    return spark.sql(
        """
        WITH RECURSIVE
          edges AS (SELECT src, dst FROM {e0}
                    UNION ALL SELECT dst, src FROM {e0}),
          r(seed, node, depth) AS (
            SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), CAST(0 AS BIGINT)
            FROM VALUES (1), (7), (42) AS seeds(s)
            UNION ALL
            SELECT r.seed, e.dst, r.depth + CAST(1 AS BIGINT)
            FROM r JOIN edges e ON e.src = r.node
            WHERE r.depth < 2
          )
        SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
               CAST(min(depth) AS BIGINT) AS min_depth
        FROM r GROUP BY 1, 2
        """,
        e0=e0,
    )
