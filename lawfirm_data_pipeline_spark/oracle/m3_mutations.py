"""M3 — mutation-transform oracle queries (SURVEY.md §2.A5-A10).

Mutations have no direct SQL twin, so each query runs the transform on
driver tables with a deterministically derived "incoming" set and returns
the post-state; the oracle SQL computes the same post-state relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.mutations import (
    connect_or_create,
    dedup_insert,
    delete_cascade,
    update_many,
    upsert,
)
from ..queries import query


# -- q15: upsert ≡ MERGE (matched → new price/status, unmatched → insert).
#    Incoming derived from orders: keys %10==0 get a 10% price bump; keys
#    shifted by 10^7 are brand-new rows.
@query(
    "q15_upsert",
    """
    WITH incoming AS (
        -- decimal money bump, mirroring the engine: double*1.1 then
        -- round(...,2) is a knife-edge — the r9 sf3 differential caught
        -- a row whose product sits a hair under .785 rounding apart
        -- between engines; DECIMAL(18,2) * 1.1 is exact and rounds
        -- identically everywhere
        SELECT o_orderkey,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
                    AS DOUBLE) AS o_totalprice,
               'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 1.0, 'N' FROM orders WHERE o_orderkey % 500 = 0
    )
    SELECT o_orderkey, o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
           count(*) AS n
    FROM (
        SELECT o.o_orderkey,
               coalesce(i.o_totalprice, o.o_totalprice) AS o_totalprice,
               coalesce(i.o_orderstatus, o.o_orderstatus) AS o_orderstatus
        FROM orders o LEFT JOIN incoming i USING (o_orderkey)
        UNION ALL
        SELECT i.o_orderkey, i.o_totalprice, i.o_orderstatus
        FROM incoming i ANTI JOIN orders o USING (o_orderkey)
    )
    WHERE o_orderkey % 97 = 0
    GROUP BY o_orderkey, o_orderstatus
    """,
)
def q15_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # decimal money bump — double*1.1 + round(...,2) rounds knife-edge
    # products differently across engines (sf3 finding); exact decimal
    # multiply + HALF_UP round is engine-independent, cast back to the
    # column's double type for the merge
    bumped = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * F.expr("1.1BD"), 2)
        .cast("double")
        .alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    created = orders.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    incoming = bumped.unionByName(created)
    merged = upsert(
        orders, incoming, keys="o_orderkey", update_cols=["o_totalprice", "o_orderstatus"]
    )
    return (
        merged.filter(F.col("o_orderkey") % 97 == 0)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_orderkey", "o_orderstatus", "sum_price", "n")
    )


# -- q16: dedup insert (unique-key violation swallowed, A8) — existing and
#    new sets overlap on p_partkey % 6 == 0; overlap must not duplicate.
@query(
    "q16_dedup_insert",
    """
    WITH existing AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 3 = 0),
         new      AS (SELECT p_partkey, upper(p_name) AS p_name FROM part WHERE p_partkey % 2 = 0)
    SELECT p_partkey, p_name FROM existing
    UNION ALL
    SELECT p_partkey, p_name FROM new
    WHERE p_partkey NOT IN (SELECT p_partkey FROM existing)
    """,
)
def q16_dedup_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    existing = part.filter(F.col("p_partkey") % 3 == 0).select("p_partkey", "p_name")
    new = part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey", F.upper("p_name").alias("p_name")
    )
    return dedup_insert(existing, new, "p_partkey")


# -- q17: connectOrCreate (A9) — dim = types seen on a subset of parts;
#    facts tag every part with [p_type, p_brand]; post-state = dim names +
#    bridge degree per dim row.
@query(
    "q17_connect_or_create",
    """
    WITH dim AS (SELECT DISTINCT p_type AS name FROM part WHERE p_partkey % 5 = 0),
         tags AS (
            SELECT p_partkey AS fid, p_type AS tag FROM part
            UNION
            SELECT p_partkey, p_brand FROM part
         ),
         new_dim AS (
            SELECT name FROM dim
            UNION
            SELECT DISTINCT tag FROM tags WHERE tag NOT IN (SELECT name FROM dim)
         )
    SELECT d.name, count(t.fid) AS degree
    FROM new_dim d LEFT JOIN tags t ON t.tag = d.name
    GROUP BY d.name
    """,
)
def q17_connect_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    dim = (
        part.filter(F.col("p_partkey") % 5 == 0)
        .select(F.col("p_type").alias("name"))
        .distinct()
        .withColumn("id", F.concat(F.lit("fs_"), F.sha2(F.col("name"), 256).substr(1, 24)))
        .select("id", "name")
    )
    facts = part.select(
        F.col("p_partkey").cast("string").alias("id"),
        F.array("p_type", "p_brand").alias("tags"),
    )
    bridge = spark.createDataFrame([], "A string, B string")
    new_dim, new_bridge = connect_or_create(facts, dim, bridge)
    return (
        new_dim.join(new_bridge, new_dim["id"] == new_bridge["B"], "left")
        .groupBy("name")
        .agg(F.count("A").alias("degree"))
    )


# -- q18: keyed + predicated update and delete-with-cascade post-states
#    (A5/A6/A7).  Status write-back on the derived tri-state queue, then a
#    predicated delete; result = surviving queue counts by state.
@query(
    "q18_update_delete_queue",
    """
    WITH queue AS (
        SELECT o_orderkey AS id,
               CASE WHEN o_orderkey % 10 < 5 THEN NULL
                    WHEN o_orderkey % 10 < 8 THEN true
                    ELSE false END AS status,
               o_orderpriority AS prio
        FROM orders
    ),
    updated AS (                      -- mark pending urgent rows done
        SELECT id,
               CASE WHEN status IS NULL AND prio = '1-URGENT' THEN true ELSE status END AS status,
               prio
        FROM queue
    ),
    survived AS (                     -- delete failed rows
        SELECT * FROM updated WHERE NOT coalesce(status = false, false)
    )
    SELECT coalesce(CAST(status AS VARCHAR), 'pending') AS state, count(*) AS n
    FROM survived GROUP BY 1
    """,
)
def q18_update_delete_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    queue = orders.select(
        F.col("o_orderkey").alias("id"),
        F.expr(
            "CASE WHEN o_orderkey % 10 < 5 THEN NULL WHEN o_orderkey % 10 < 8 THEN true ELSE false END"
        ).alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    updated = update_many(queue, {"status": None, "prio": "1-URGENT"}, {"status": True})
    from ..operators.mutations import delete_where

    survived = delete_where(updated, {"status": False})
    return survived.groupBy(
        F.coalesce(F.col("status").cast("string"), F.lit("pending")).alias("state")
    ).agg(F.count(F.lit(1)).alias("n"))


# -- q19: delete_cascade — drop zero-order customers (the zero-services
#    delete branch, syncCrm.ts:107-125) and cascade their order rows (vacuous
#    by construction) plus verify bridge cascade on a real subset.
@query(
    "q19_delete_cascade",
    """
    WITH doomed AS (SELECT c_custkey FROM customer WHERE c_custkey % 11 = 0),
         new_parent AS (SELECT * FROM customer WHERE c_custkey NOT IN (SELECT * FROM doomed)),
         new_bridge AS (SELECT * FROM orders WHERE o_custkey NOT IN (SELECT * FROM doomed))
    SELECT (SELECT count(*) FROM new_parent) AS n_parent,
           (SELECT count(*) FROM new_bridge) AS n_bridge
    """,
)
def q19_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    new_parent, new_bridge = delete_cascade(
        customer.withColumn("__mod", F.col("c_custkey") % 11),
        orders,
        {"__mod": 0},
        parent_key="c_custkey",
        bridge_fk="o_custkey",
    )
    return new_parent.drop("__mod").agg(F.count(F.lit(1)).alias("n_parent")).crossJoin(
        new_bridge.agg(F.count(F.lit(1)).alias("n_bridge"))
    )
