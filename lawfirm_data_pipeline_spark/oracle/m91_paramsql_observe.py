"""M91 — round-5 wave 12: parameterized raw SQL + observed metrics.

q288 — parameterized ``$queryRaw``: the reference's raw-SQL surface is
a TAGGED TEMPLATE (``$queryRaw`SELECT ... WHERE x > ${v}````,
src/db/client/effect.ts:398-420) — parameters travel out-of-band, not
string-spliced.  Spark 4's named parameter markers
(``spark.sql(sql, args={...})``) are the same contract; q55 covered
the bare string form, this covers the injection-safe one the reference
actually uses.

q289 — ``df.observe`` metrics: the A24 metrics story
(locator.ts:41-49 Effect counters) done the Spark way — aggregates
computed DURING a pass over the data, no second scan.  The observed
map is returned as the query result, so the oracle gates that observed
metrics equal true aggregates (with the cents snap making the sum
integer-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q288_parameterized_sql",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    WHERE o_totalprice > 250000 AND o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def q288_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named parameter markers carry the literals (:minp, :status) —
    the $queryRaw tagged-template contract; values never concatenate
    into the SQL text."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(max(o_totalprice) AS DOUBLE) AS max_price
        FROM {orders}
        WHERE o_totalprice > :minp AND o_orderstatus = :status
        GROUP BY 1
        """,
        args={"minp": 250000, "status": "F"},
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q289_observed_metrics",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finished,
           CAST(sum(CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    """,
)
def q289_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline counters via Observation: the metrics ride the SAME
    pass that materializes the data (here a noop sink), exactly like
    the reference's per-loop Effect counters — and unlike a separate
    count() they can never disagree with what the pass actually saw."""
    from pyspark.sql import Observation

    obs = Observation("q289")
    df = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
        F.sum(bfround(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_finished"], m["total_cents"])],
        "n_rows long, n_finished long, total_cents long",
    )
