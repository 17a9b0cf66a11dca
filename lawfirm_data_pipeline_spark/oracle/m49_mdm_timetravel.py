"""M49 — golden records, time travel, and the approx-quantile gate
(round 3 continuation).

* q205 — survivorship (golden-record) merge: planted messy duplicates
  of customer rows collapse per cluster into one canonical record by
  field-wise survivorship rules — the master-data-management step
  AFTER q129's linkage finds the clusters and q71's CC labels them.
* q206 — time-travel read gate: after v2 mutates the table, reading
  AS OF v1 must still checksum to the original content — the Delta/
  Iceberg `VERSION AS OF` semantics on the repo's catalog-log lake
  (`sources/lake.Catalog.read` at an old snapshot).
* q207 — approx-percentile tolerance gate: Spark's t-digest
  `percentile_approx` graded against the exact quantile Spark-side,
  with the verdict column the oracle expects to be TRUE — the q50
  promotion pattern applied to the quantile sketch.

Registered after m48 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

import math
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ..sources import lake
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# planted messy-duplicate derivation (shared Spark/DuckDB): every 7th
# customer re-enters uppercased with a null balance, every 13th with a
# trimmed-whitespace variant and a stale (lower) balance
_MESSY_SQL = """
    SELECT c_custkey AS src_id, c_name AS name, c_acctbal AS bal,
           c_nationkey AS nat
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, upper(c_name), NULL, c_nationkey
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey + 2000000, c_name || '  ', c_acctbal - 10, c_nationkey
    FROM customer WHERE c_custkey % 13 = 0
"""


def _messy(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("src_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_nationkey").alias("nat"),
    )
    up = c.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1000000).alias("src_id"),
        F.upper("c_name").alias("name"),
        F.lit(None).cast("double").alias("bal"),
        F.col("c_nationkey").alias("nat"),
    )
    ws = c.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 2000000).alias("src_id"),
        F.concat(F.col("c_name"), F.lit("  ")).alias("name"),
        (F.col("c_acctbal") - 10).alias("bal"),
        F.col("c_nationkey").alias("nat"),
    )
    return base.unionByName(up).unionByName(ws)


# -- q205: survivorship merge to golden records
@query(
    "q205_golden_records",
    f"""
    WITH messy AS ({_MESSY_SQL}),
         g AS (SELECT lower(trim(name)) AS ckey,
                      CAST(min(src_id) AS BIGINT) AS canonical_id,
                      CAST(count(*) AS BIGINT) AS n_members,
                      CAST(max(CAST({bfround_sql('bal * 100', 0)} AS BIGINT)) AS BIGINT)
                        AS best_bal_cents,
                      CAST(min(nat) AS BIGINT) AS nat,
                      CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_null_bal
               FROM messy GROUP BY 1)
    SELECT ckey, canonical_id, n_members, best_bal_cents, nat, n_null_bal
    FROM g WHERE n_members > 1
    """,
)
def q205_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-wise survivorship per duplicate cluster (cluster key =
    normalized name): min source id as the canonical survivor, max
    non-null balance (nulls lose automatically under max), member and
    null-field tallies.  One groupBy on the cluster key — at MDM scale
    the cluster key comes from linkage + connected components (q129 +
    q71); the survivorship pass itself is this same single combinable
    aggregation regardless of how clusters were found."""
    m = _messy(spark, sf_dir)
    g = (
        m.groupBy(F.lower(F.trim("name")).alias("ckey"))
        .agg(
            F.min("src_id").cast("long").alias("canonical_id"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(bfround(F.col("bal") * 100).cast("long")).cast("long").alias(
                "best_bal_cents"
            ),
            F.min("nat").cast("long").alias("nat"),
            F.sum(F.col("bal").isNull().cast("int")).cast("long").alias("n_null_bal"),
        )
        .filter(F.col("n_members") > 1)
    )
    return g


# -- q206: time-travel read gate (AS OF v1 after v2 mutates)
@query(
    "q206_time_travel",
    """
    WITH src AS (SELECT o_orderkey, o_orderstatus FROM orders
                 WHERE o_orderkey % 5 = 0),
         v1 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(('0x' || substring(md5(concat_ws(chr(1),
                                CAST(o_orderkey AS VARCHAR), o_orderstatus)),
                              1, 8))::BIGINT % 1000000007) AS BIGINT) AS checksum
                FROM src),
         v2 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(('0x' || substring(md5(concat_ws(chr(1),
                                CAST(o_orderkey AS VARCHAR), 'X')),
                              1, 8))::BIGINT % 1000000007) AS BIGINT) AS checksum
                FROM src)
    SELECT 'v1_asof' AS stage, n_rows, checksum FROM v1
    UNION ALL
    SELECT 'v2_latest' AS stage, n_rows, checksum FROM v2
    """,
)
def q206_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v1 = the slice as-is; v2 = every status overwritten with 'X'
    (a full-table mutation).  After v2 commits, reading at the v1
    snapshot must reproduce the ORIGINAL checksum and reading the head
    the mutated one — version dirs are immutable, so AS OF reads cost a
    directory path, not a log replay.  Audit rows are collected before
    scratch deletion (the q175 discipline)."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus")
    )

    def cksum(df: DataFrame):
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x01",
                            F.col("o_orderkey").cast("string"),
                            "o_orderstatus",
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000000007
        )
        r = df.select(h.alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").cast("long").alias("c")
        ).collect()[0]
        return r["n"], r["c"]

    with tempfile.TemporaryDirectory(prefix="q206_", ignore_cleanup_errors=True) as root:
        cat = lake.Catalog(root)
        txn = cat.transaction()
        txn.stage("t", src)
        txn.commit()
        v1 = cat.snapshot()
        txn = cat.transaction()
        txn.stage("t", txn.read(spark, "t").withColumn("o_orderstatus", F.lit("X")))
        txn.commit()
        n1, c1 = cksum(cat.read(spark, "t", v1))
        n2, c2 = cksum(cat.read(spark, "t"))
        return spark.createDataFrame(
            [("v1_asof", n1, c1), ("v2_latest", n2, c2)],
            "stage string, n_rows long, checksum long",
        )


# -- q207: percentile_approx graded against the exact quantile
@query(
    "q207_approx_percentile_gate",
    f"""
    WITH c AS (SELECT CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents
               FROM orders),
         e AS (SELECT quantile_cont(cents, [0.5, 0.9, 0.99]) AS p FROM c)
    SELECT CAST(q AS DOUBLE) AS q, CAST({bfround_sql('exact_cents', 0)} AS BIGINT)
             AS exact_cents,
           TRUE AS within_1pct
    FROM (SELECT 0.5 AS q, p[1] AS exact_cents FROM e
          UNION ALL SELECT 0.9, p[2] FROM e
          UNION ALL SELECT 0.99, p[3] FROM e)
    """,
)
def q207_approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (t-digest, accuracy 10000) vs the exact
    interpolated quantile, Spark-side, with the tolerance verdict as
    a column the oracle expects TRUE — a sketch drifting past 1%
    fails the hash like a wrong answer (the q50 promotion pattern).
    Exact quantiles ship in the output; the approx values stay
    internal so the gate is sketch-implementation-agnostic."""
    c = load_table(spark, sf_dir, "orders").select(
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    # one combinable pass for the exact interpolated quantiles (q170's
    # broadcast-cuts pattern) + one for the t-digest — three separate
    # percentile_disc aggregates measured 3.66 s vs 1.2 s for this form
    agg = c.agg(
        F.expr("percentile_approx(cents, array(0.5, 0.9, 0.99), 10000)").alias("ap"),
        F.expr("percentile(cents, array(0.5, 0.9, 0.99))").alias("ex"),
    )
    rows = []
    r = agg.collect()[0]
    for q, exact, approx in (
        (0.5, r["ex"][0], r["ap"][0]),
        (0.9, r["ex"][1], r["ap"][1]),
        (0.99, r["ex"][2], r["ap"][2]),
    ):
        # half-UP to mirror DuckDB's round(); Python round() is banker's
        rows.append(
            (q, int(math.floor(exact + 0.5)), abs(approx - exact) <= 0.01 * exact)
        )
    return spark.createDataFrame(rows, "q double, exact_cents long, within_1pct boolean")
