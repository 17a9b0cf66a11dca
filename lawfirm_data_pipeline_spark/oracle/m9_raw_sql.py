"""M9 — the raw-SQL escape hatch (``$queryRaw``, effect.ts:398-420).

The reference lets callers bypass the Prisma query API with raw SQL;
the engine's equivalent is ``spark.sql`` over registered views.  The
oracle here is the strongest possible form of that claim: ONE
dialect-common ANSI string executed verbatim by both Spark SQL and
DuckDB, hash-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import register_views
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

# One string, two engines. Stick to the ANSI intersection: explicit
# JOIN ... ON, CTEs, CASE, standard aggregates, HAVING, ORDER-free
# (driver compare is order-insensitive).
_RAW_SQL = f"""
    WITH cust AS (
        SELECT c.c_custkey, n.n_name
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    spend AS (
        SELECT o.o_custkey, count(*) AS n_orders,
               sum(CAST({bfround_sql('o.o_totalprice * 100', 0)} AS BIGINT)) AS cents
        FROM orders o
        GROUP BY o.o_custkey
    )
    SELECT cust.n_name,
           count(*) AS n_buyers,
           CAST(sum(spend.n_orders) AS BIGINT) AS n_orders,
           CAST(sum(spend.cents) AS BIGINT) AS total_cents
    FROM cust
    JOIN spend ON cust.c_custkey = spend.o_custkey
    GROUP BY cust.n_name
    HAVING count(*) > 5
"""


@query("q55_raw_sql", _RAW_SQL)
def q55_raw_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``$queryRaw``: the caller-supplied SQL string runs unmodified."""
    register_views(spark, sf_dir)
    return spark.sql(_RAW_SQL)
