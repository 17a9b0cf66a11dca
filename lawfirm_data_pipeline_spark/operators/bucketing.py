"""Bucketed tables: shuffle-free co-located joins (SURVEY.md §2 "Spark
mapping" for the reference's indexed FK joins, at warehouse scale).

A join between two tables bucketed by the join key into the same bucket
count needs NO exchange — each task reads matching buckets from both
sides.  At 100 TB this converts the biggest recurring cost (shuffling a
fact table for every FK join) into a one-time cost at write.  The
reference gets the same effect from Postgres btree indexes; columnar
lakes get it from bucketing (or from liquid clustering on newer table
formats).

Bucketed writes require a catalog table (``saveAsTable``): Spark
persists bucket metadata in the catalog, not in parquet footers.  The
table is external, at a caller-owned ``path``, so nothing lands in the
session's warehouse dir; dropping the table leaves the files to the
caller's scratch scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, path: str, n_buckets: int = 16
) -> None:
    """Persist ``df`` as an external bucketed catalog table at ``path``,
    sorted within buckets on the key so a downstream sort-merge join
    skips its sort too."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Inner-join two same-bucketed catalog tables on their bucket key.

    With matching bucket counts the plan shows SortMergeJoin with no
    Exchange on either side (asserted in tests/test_bucketing.py).
    AQE note: Spark disables bucketed-scan avoidance when one side is
    tiny; keep ``spark.sql.autoBroadcastJoinThreshold`` in mind when
    reading plans at test scale.
    """
    return spark.table(left_table).join(spark.table(right_table), on=on)
