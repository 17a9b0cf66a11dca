"""M39 — value gates for the lake layer (round 3, twenty-second wave).

The versioned-table machinery (sources/lake.py) and schema migrations
(sources/migrations.py) were pytest-gated; these queries put both
under the driver's VALUE gate using the q151 checksum trick: content
preservation across commit->compact->commit->vacuum (q175) and across
a four-op migration chain (q176) is asserted by an order-independent
checksum the oracle recomputes directly from the source table.

Registered after m38 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.cdc import row_hash
from ..queries import query
from ..sources import lake
from ..sources.migrations import apply_migration

_CHECK_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]

_CKSUM_SQL = """('0x' || substring(md5(concat_ws(chr(1),
        coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        coalesce(o_orderstatus, chr(0)),
        coalesce(o_orderpriority, chr(0)))), 1, 8))::BIGINT % 1000000007"""


def _cksum(df: DataFrame, cols: list[str]):
    v = F.conv(F.substring(row_hash(cols), 1, 8), 16, 10).cast("long") % 1000000007
    return df.select(v.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("checksum"),
    )


# -- q175: versioned-table lifecycle preserves content exactly
@query(
    "q175_lake_roundtrip",
    f"""
    WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
                 FROM orders WHERE o_orderkey % 3 = 0),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(sum({_CKSUM_SQL}) AS BIGINT) AS checksum
               FROM src)
    SELECT 'v1' AS stage, n_rows, checksum FROM c
    UNION ALL
    SELECT 'compacted' AS stage, n_rows, checksum FROM c
    """,
)
def q175_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit the slice as 8 files -> compact it in a second transaction
    (``coalesce(1)`` into a new version) -> commit -> ``Catalog.vacuum``
    drops the old version: the checksum of the committed table at each
    stage must equal the oracle's checksum of the source rows — mutation
    machinery must be content-invisible.  The tiny audit rows are
    collected before the scratch dir is deleted (lake DataFrames would
    dangle otherwise)."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(*_CHECK_COLS)
    )
    with tempfile.TemporaryDirectory(prefix="q175_", ignore_cleanup_errors=True) as root:
        cat = lake.Catalog(root)
        txn = cat.transaction()
        txn.stage("t", src.repartition(8))
        txn.commit()
        r1 = _cksum(cat.read(spark, "t"), _CHECK_COLS).collect()[0]
        txn = cat.transaction()
        txn.stage("t", txn.read(spark, "t").coalesce(1))
        txn.commit()
        cat.vacuum("t")
        r2 = _cksum(cat.read(spark, "t"), _CHECK_COLS).collect()[0]
    return spark.createDataFrame(
        [("v1", r1["n_rows"], r1["checksum"]), ("compacted", r2["n_rows"], r2["checksum"])],
        "stage string, n_rows long, checksum long",
    )


# -- q176: migration chain preserves data and lands the target schema
@query(
    "q176_migration_roundtrip",
    """
    WITH m AS (SELECT o_orderkey, o_custkey, o_orderstatus AS status,
                      'crm' AS src, CAST(7 AS BIGINT) AS priority_code
               FROM orders WHERE o_orderkey % 4 = 1)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substring(md5(concat_ws(chr(1),
                coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
                coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
                coalesce(status, chr(0)),
                coalesce(src, chr(0)),
                coalesce(CAST(priority_code AS VARCHAR), chr(0)))), 1, 8))::BIGINT
                % 1000000007) AS BIGINT) AS checksum,
           'o_orderkey:bigint,o_custkey:bigint,status:string,src:string,priority_code:bigint'
             AS schema
    FROM m
    """,
)
def q176_migration_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-op migration chain (add-with-default, rename, add-int +
    lossless widen, drop) applied as the pure projection
    sources/migrations.apply_migration; the oracle states the intended
    end state directly — content checksum AND the landed schema string
    (derived from df.dtypes, not hardcoded) must both match."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )
    migrated = apply_migration(
        src,
        [
            {"add": {"name": "src", "type": "string", "default": "crm"}},
            {"rename": {"from": "o_orderstatus", "to": "status"}},
            {"add": {"name": "priority_code", "type": "int", "default": 7}},
            {"widen": {"name": "priority_code", "type": "bigint"}},
            {"drop": "o_totalprice"},
        ],
    )
    cols = ["o_orderkey", "o_custkey", "status", "src", "priority_code"]
    schema_str = ",".join(f"{n}:{t}" for n, t in migrated.select(*cols).dtypes)
    return _cksum(migrated, cols).select(
        "n_rows", "checksum", F.lit(schema_str).alias("schema")
    )
