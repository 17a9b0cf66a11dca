"""Format-agnostic structured file IO (parquet / csv / json / jsonl).

The reference's only storage is Postgres; the engine's native format is
parquet (io.py).  These helpers add the interchange formats an ingest
edge needs, with the same discipline io.py applies to parquet: schemas
are pinned, never inferred, so a drifting extract fails loudly and scans
carry exact ReadSchema for pruning.

Scale notes: csv/json are row formats — fine for ingest edges, wrong for
the lake.  ``write_table`` defaults to parquet with optional
``partition_by`` (hive-style directory partitioning → partition pruning
on read); bucketed tables are written by ``operators/bucketing``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_FORMATS = {"parquet", "csv", "json"}


def read_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """Read a structured file with a required explicit schema.

    csv defaults: header=true.  json covers jsonl (Spark's native JSON
    reader is line-delimited; pass multiLine=true for document arrays).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (one of {sorted(_FORMATS)})")
    reader = spark.read.schema(schema)
    if fmt == "csv":
        options = {"header": "true", **options}
    return reader.options(**options).format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write a table; ``partition_by`` produces hive-style directories so
    downstream reads prune partitions on those keys (the engine's
    replacement for the reference's indexed lookups at scale)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (one of {sorted(_FORMATS)})")
    writer = df.write.mode(mode).options(**options)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)
