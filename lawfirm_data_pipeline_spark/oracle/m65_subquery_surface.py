"""M65 — round-4 wave 5: correlated-subquery SQL surface.

q55 proved the ``$queryRaw`` escape hatch on the join/CTE/HAVING
subset; these two registrations extend the one-string-two-engines
claim to the subquery forms an analyst actually writes — LATERAL
(per-row dependent subquery), EXISTS / NOT EXISTS semi-joins, IN
subqueries, and a correlated scalar subquery.  Catalyst decorrelates
all of them into joins (DecorrelateInnerQuery / RewriteCorrelated
ScalarSubquery), so the scale posture is ordinary equi-join planning,
not per-row re-execution — exactly the property worth pinning.

Registered after m64 — outside the round-4 driver window; first driver
rows with the round-5 rotation.  Two-scale differential green at
registration; BASELINE.md rows same-commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import register_views
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

# -- q240: LATERAL dependent subquery — top-2 orders per nation's
#    highest-balance customer cohort (LATERAL runs per outer row)
_LATERAL_SQL = f"""
    WITH top_cust AS (
        SELECT c_custkey, c_nationkey
        FROM customer
        WHERE c_acctbal > 9000
    )
    SELECT t.c_nationkey AS nat, t.c_custkey AS cust,
           o.o_orderkey, o.cents
    FROM top_cust t,
    LATERAL (
        SELECT o_orderkey,
               CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents
        FROM orders
        WHERE o_custkey = t.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) o
"""


@query("q240_lateral_topk", _LATERAL_SQL)
def q240_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL dependent subquery (top-2 orders per rich customer), one
    ANSI string on both engines.  Catalyst plans the lateral as a
    decorrelated join + per-key window, not per-row re-execution — the
    plan a hand-written window query would produce, for free."""
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# -- q241: EXISTS / NOT EXISTS / IN / correlated scalar subquery kit
_SUBQUERY_SQL = """
    SELECT s.s_suppkey,
           EXISTS (SELECT 1 FROM lineitem l
                   WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 45)
             AS has_bulk_line,
           NOT EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_suppkey = s.s_suppkey
                         AND l.l_discount > 0.09) AS never_deep_discount,
           s.s_nationkey IN (SELECT n_nationkey FROM nation
                             WHERE n_regionkey = 1) AS in_region1,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey) AS n_lines
    FROM supplier s
"""


@query("q241_subquery_kit", _SUBQUERY_SQL)
def q241_subquery_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS, NOT EXISTS, IN, and a correlated scalar subquery in one
    projection — each decorrelates to a semi/anti/aggregate join over
    ONE supplier-keyed pass, verbatim on both engines.  The NOT EXISTS
    predicate is the null-safe anti-join every "suppliers with no X"
    report needs."""
    register_views(spark, sf_dir)
    return spark.sql(_SUBQUERY_SQL)
