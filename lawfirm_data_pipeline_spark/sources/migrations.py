"""Schema evolution for versioned lake tables.

Reference parity: the reference carries six Prisma migration files
(src/db/migrations/*/migration.sql) — CreateTable/CreateEnum DDL, a
column-nullability relaxation (20260102133035_init/migration.sql:
``ALTER TABLE "PlaceEntry" ALTER COLUMN "name" DROP NOT NULL, ...``),
and CreateIndex/DropIndex.  A lake has no in-place ALTER TABLE: schema
changes are COPY-ON-WRITE — project the table at the catalog head onto
the target schema and commit the projection as its next version in one
``Catalog`` transaction, so readers atomically flip from old-schema
data to new-schema data exactly like a data rewrite.

Supported ops (the lake analogues of the reference's Postgres DDL):

* ``{"add": {"name", "type", "default"?}}``    — new nullable column,
  backfilled with the literal default (NULL when omitted);
* ``{"drop": "name"}``
* ``{"rename": {"from", "to"}}``
* ``{"relax_nullable": "name"}``               — DROP NOT NULL.  Parquet
  stores nullability per file, so this is metadata-only: the projection
  re-marks the field nullable and future writers may supply NULLs;
* ``{"widen": {"name", "type"}}``              — lossless casts only
  (int→bigint, float→double, …); lossy casts are refused, the caller
  must add-and-backfill instead.

CreateIndex/DropIndex have no lake analogue — ordering/bucketing AT
WRITE TIME is the engine's index story (operators/bucketing.py).

Scale: the migration rewrite is one distributed projection of the table
(embarrassingly parallel, no shuffle) + one catalog commit; old versions
remain readable (``conform`` lets a reader present an old snapshot
under the new schema, Delta-``mergeSchema`` style).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lake import Catalog

_WIDENINGS: set[tuple[str, str]] = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
    ("date", "timestamp"),
}


def apply_migration(df: DataFrame, ops: list[dict[str, Any]]) -> DataFrame:
    """Project ``df`` through a migration op list (pure transform — the
    committing wrapper is ``migrate_table``)."""
    for op in ops:
        if "add" in op:
            spec = op["add"]
            default = spec.get("default")
            col = (F.lit(default) if default is not None else F.lit(None)).cast(spec["type"])
            df = df.withColumn(spec["name"], col)
        elif "drop" in op:
            if op["drop"] not in df.columns:
                raise ValueError(f"drop: no column {op['drop']!r}")
            df = df.drop(op["drop"])
        elif "rename" in op:
            df = df.withColumnRenamed(op["rename"]["from"], op["rename"]["to"])
        elif "relax_nullable" in op:
            name = op["relax_nullable"]
            if name not in df.columns:
                raise ValueError(f"relax_nullable: no column {name!r}")
            df = _mark_nullable(df, name)
        elif "widen" in op:
            spec = op["widen"]
            cur = dict(df.dtypes).get(spec["name"])
            if cur is None:
                raise ValueError(f"widen: no column {spec['name']!r}")
            if cur != spec["type"] and (cur, spec["type"]) not in _WIDENINGS:
                raise ValueError(
                    f"widen: {cur} -> {spec['type']} is lossy; add a new "
                    "column and backfill instead"
                )
            df = df.withColumn(spec["name"], F.col(spec["name"]).cast(spec["type"]))
        else:
            raise ValueError(f"unknown migration op: {op!r}")
    return df


def _mark_nullable(df: DataFrame, name: str) -> DataFrame:
    """Nullability is plan metadata; flipping it without a data pass:
    route the column through a no-op expression Catalyst can't prove
    non-null (``when(lit(True), col)``), which planners mark nullable."""
    return df.withColumn(name, F.when(F.lit(True), F.col(name)))


def migrate_table(
    spark: SparkSession, catalog: Catalog, table: str, ops: list[dict[str, Any]]
) -> int:
    """Apply ``ops`` to ``table`` at the catalog head and commit the
    result as its next version.  Returns the new version number."""
    txn = catalog.transaction()
    v = txn.stage(table, apply_migration(txn.read(spark, table), ops))
    txn.commit()
    return v


def conform(df: DataFrame, target: T.StructType) -> DataFrame:
    """Present a (possibly old-schema) snapshot under ``target``:
    missing columns become NULLs, extra columns drop, matching columns
    cast to the target type — the read-side half of schema evolution
    (Delta's ``mergeSchema`` read)."""
    cols = []
    have = set(df.columns)
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
