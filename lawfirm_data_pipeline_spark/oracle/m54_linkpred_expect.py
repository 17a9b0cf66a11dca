"""M54 — link-prediction features and declarative expectations
(round 3 continuation).

* q213 — neighborhood-Jaccard link prediction over the co-purchase
  graph: for 2-hop candidate pairs, |N(u) ∩ N(v)| / |N(u) ∪ N(v)| —
  the classic common-neighbors feature, computed from the same
  wedge-enumeration machinery as triangle counting (a wedge u-a-v IS
  a common neighbor a of the pair (u, v)).
* q214 — single-pass expectations report: a declarative list of data
  contracts (not-null, range, set-membership, uniqueness) evaluated
  as ONE aggregate over one scan each table — the dbt-test/Great-
  Expectations shape where adding a check adds a column, not a scan.

Registered after m53 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_MAXP = 60  # bounded co-purchase subgraph (parts < 60): pairwise stays small

_EDGE_SQL = f"""
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    WHERE a.l_partkey < {_MAXP} AND b.l_partkey < {_MAXP}
"""


# -- q213: neighborhood Jaccard for 2-hop candidate pairs
@query(
    "q213_link_prediction",
    f"""
    WITH e0 AS ({_EDGE_SQL}),
         und AS (SELECT src AS u, dst AS v FROM e0
                 UNION ALL SELECT dst, src FROM e0),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
         wedge AS (SELECT a.v AS x, b.v AS y, a.u AS mid
                   FROM und a JOIN und b ON a.u = b.u AND a.v < b.v),
         common AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cn
                    FROM wedge GROUP BY 1, 2),
         linked AS (SELECT src AS x, dst AS y FROM e0)
    SELECT c.x, c.y, c.cn,
           {bfround_sql('CAST(c.cn AS DOUBLE) / (dx.d + dy.d - c.cn)', 6)} AS jaccard,
           (l.x IS NOT NULL) AS already_linked
    FROM common c
    JOIN deg dx ON dx.u = c.x
    JOIN deg dy ON dy.u = c.y
    LEFT JOIN linked l ON l.x = c.x AND l.y = c.y
    WHERE 5 * c.cn >= dx.d + dy.d - c.cn
    """,
)
def q213_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor counts come from wedge enumeration (each wedge
    x-mid-y is one shared neighbor), Jaccard from broadcast degree
    joins, and `already_linked` marks which high-scoring pairs are new
    edges — the link-prediction candidate list.  Threshold jaccard >=
    1/5 applied as exact integer cross-multiplication before the one
    rounded output.  Same hub-bounded wedge cost model as triangle
    counting; at full-graph scale the oriented adjacency-array variant
    (graph_metrics.triangle_counts) generates the wedges."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = pin(
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .filter((F.col("a.l_partkey") < _MAXP) & (F.col("b.l_partkey") < _MAXP))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    und = e0.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        e0.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    wa, wb = und.alias("wa"), und.alias("wb")
    common = (
        wa.join(wb, (F.col("wa.u") == F.col("wb.u")) & (F.col("wa.v") < F.col("wb.v")))
        .groupBy(F.col("wa.v").alias("x"), F.col("wb.v").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    dx = deg.select(F.col("u").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("u").alias("y"), F.col("d").alias("dy"))
    linked = e0.select(
        F.col("src").alias("x"), F.col("dst").alias("y"), F.lit(1).alias("lk")
    )
    union_sz = F.col("dx") + F.col("dy") - F.col("cn")
    return (
        common.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .join(linked, ["x", "y"], "left")
        .filter(F.lit(5) * F.col("cn") >= union_sz)
        .select(
            "x",
            "y",
            "cn",
            bfround(F.col("cn").cast("double") / union_sz, 6).alias("jaccard"),
            F.col("lk").isNotNull().alias("already_linked"),
        )
    )


# -- q214: single-pass declarative expectations report
# (name, table, sql predicate, spark predicate builder) — adding a check
# adds one CASE column to the shared aggregate, never another scan
_ORDER_CHECKS = [
    ("orderkey_not_null", "o_orderkey IS NOT NULL"),
    ("totalprice_positive", "o_totalprice > 0"),
    ("status_in_domain", "o_orderstatus IN ('F', 'O', 'P')"),
    ("priority_in_domain", "o_orderpriority LIKE '_-%'"),
    ("date_in_range", "o_orderdate >= TIMESTAMP '1990-01-01'"),
]


@query(
    "q214_expectations",
    f"""
    WITH base AS (
      SELECT {", ".join(
          f"CAST(sum(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT) AS f{i}"
          for i, (_, pred) in enumerate(_ORDER_CHECKS)
      )},
             CAST(count(*) AS BIGINT) AS n
      FROM orders),
      uq AS (SELECT CAST(count(*) AS BIGINT) AS dup_keys FROM
               (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1))
    {" UNION ALL ".join(
        f"SELECT '{name}' AS check_name, f{i} AS fails, n AS n_rows,"
        f" (f{i} = 0) AS passed FROM base"
        for i, (name, _) in enumerate(_ORDER_CHECKS)
    )}
    UNION ALL
    SELECT 'orderkey_unique', uq.dup_keys, base.n, (uq.dup_keys = 0)
    FROM base, uq
    """,
)
def q214_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five row-level contracts evaluated in ONE aggregate over one
    orders scan (each check is a CASE column — map-side combinable),
    plus a uniqueness check from one groupBy; the report unpivots the
    single summary row.  This is the data-contract runner shape: N
    checks cost one scan + one shuffle-light aggregate, not N table
    passes (complements q115's entity-table constraint audit with the
    declarative-spec form)."""
    o = load_table(spark, sf_dir, "orders")
    spark_preds = {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("F", "O", "P"),
        "priority_in_domain": F.col("o_orderpriority").rlike("^.-"),
        "date_in_range": F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"),
    }
    aggs = [
        F.sum(F.when(spark_preds[name], 0).otherwise(1)).cast("long").alias(f"f{i}")
        for i, (name, _) in enumerate(_ORDER_CHECKS)
    ] + [F.count(F.lit(1)).cast("long").alias("n")]
    base = o.agg(*aggs)
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("dup_keys"))
    )
    row = base.crossJoin(dup).collect()[0]
    out = [
        (name, int(row[f"f{i}"]), int(row["n"]), row[f"f{i}"] == 0)
        for i, (name, _) in enumerate(_ORDER_CHECKS)
    ] + [("orderkey_unique", int(row["dup_keys"]), int(row["n"]), row["dup_keys"] == 0)]
    return spark.createDataFrame(
        out, "check_name string, fails long, n_rows long, passed boolean"
    )
