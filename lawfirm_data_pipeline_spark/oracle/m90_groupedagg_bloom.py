"""M90 — round-5 wave 11: the grouped-agg Pandas UDF leg + Spark's
built-in runtime Bloom-filter join.

q286 — GROUPED_AGG ``pandas_udf``: the last uncovered Pandas API
surface (scalar q39, mapInPandas q244, grouped-map q278, stateful
q110).  A 10%-trimmed mean per user bucket: the kernel sorts the
group's integer cents, drops floor(n*0.1) from each tail, and divides
exact int sums as float/float — the same expressions the oracle's
window derivation evaluates, so the Arrow aggregate path is gated with
zero tolerance (trimming by VALUE order makes tie order irrelevant).

q287 — runtime Bloom-filter join (``spark.sql.optimizer.runtime.
bloomFilter``): Spark's own version of q183's hand-rolled semi-join
filter — the selective dim side builds a bloom_filter_agg, the fact
scan probes might_contain BEFORE the shuffle, cutting exchanged rows
to ~matching ones.  The conf is flipped only inside this query
(saved/restored), the plan is pinned in tests/test_plans.py, and the
aggregate must equal the plain join — runtime filters are only
admissible because they cannot change answers.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q286_grouped_agg_trimmed_mean",
    f"""
    WITH e AS (
        SELECT user_id % 50 AS grp,
               CAST({bfround_sql('value * 100', 0)} AS BIGINT) AS cents
        -- sample = observed rows (r12 nulls axis): NULL value has
        -- no cents; the trim set is over observations only
        FROM events WHERE user_id % 3 = 0 AND value IS NOT NULL
    ),
    r AS (
        SELECT grp, cents,
               row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY grp) AS n
        FROM e
    ),
    t AS (
        SELECT grp, cents, n FROM r
        WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
          AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS tmean
    FROM t GROUP BY grp
    """,
)
def q286_grouped_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per bucket through a GROUPED_AGG pandas_udf;
    the oracle derives the identical trim via rank windows."""
    from pyspark.sql.functions import pandas_udf

    def _trim(cents: pd.Series) -> list[int]:
        vals = sorted(int(v) for v in cents)
        k = math.floor(len(vals) * 0.1)
        return vals[k : len(vals) - k]

    @pandas_udf("long")
    def n_kept_udf(cents: pd.Series) -> int:
        return len(_trim(cents))

    @pandas_udf("double")
    def tmean_udf(cents: pd.Series) -> float:
        kept = _trim(cents)
        # float(int)/float(int): bit-identical to the oracle's
        # CAST(AS DOUBLE)/CAST(AS DOUBLE) division
        return float(sum(kept)) / float(len(kept))

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 3 == 0)
        # sample = observed rows (mirrors the SQL twin's IS NOT NULL)
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("user_id") % 50).alias("grp"),
            bfround(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return e.groupBy("grp").agg(
        n_kept_udf(F.col("cents")).alias("n_kept"),
        tmean_udf(F.col("cents")).alias("tmean"),
    )


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join Spark injects its runtime Bloom filter into (broadcast
    disabled so the filter, not a broadcast join, carries the
    selectivity to the fact side)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
    )


@query(
    "q287_runtime_bloom_join",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(l.l_quantity) AS BIGINT) AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY 1
    """,
)
def q287_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        out = bloom_join_df(spark, sf_dir)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
