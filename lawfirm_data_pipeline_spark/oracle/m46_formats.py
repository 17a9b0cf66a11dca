"""M46 — source/sink format gates (round 3 continuation).

The engine's IO layer claims parquet/csv/json (sources/), but only
parquet sat under the driver's VALUE gate.  These queries close that:

* q197 — multi-format roundtrip: the same bounded documents slice is
  written to parquet, ORC, CSV (explicit schema, header), and JSON
  lines, read back through each format's full serialize/parse cycle,
  and checksummed; the oracle computes the checksum straight from the
  source table once per format row.  Any format that mangles a value,
  drops a row, or re-types a column breaks its row's hash.
* q198 — partitioned-write pruning gate: events written
  ``partitionBy(day)``, then one day read back through the partition
  layout; the oracle states the plain filtered aggregate.  The plan
  must prune to one directory — asserted by the partitions-read test
  in tests/test_formats.py; the value gate proves pruning lost
  nothing.

Registered after m45 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load_table
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# documents slice checksum: every column participates, 60-bit md5
# prefix folded mod a prime (the q151/q175 convention)
_DOC_CKSUM_SQL = """('0x' || substring(md5(concat_ws(chr(1),
        CAST(doc_id AS VARCHAR), text, lang, source,
        CAST(n_chars AS VARCHAR))), 1, 8))::BIGINT % 1000000007"""

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _doc_cksum(df: DataFrame) -> DataFrame:
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x01",
                        F.col("doc_id").cast("string"),
                        "text",
                        "lang",
                        "source",
                        F.col("n_chars").cast("string"),
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
    return df.select(h.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("checksum"),
    )


# -- q197: parquet / ORC / CSV / JSON roundtrip checksum gate
@query(
    "q197_format_roundtrip",
    f"""
    WITH src AS (SELECT doc_id, text, lang, source, n_chars
                 FROM documents WHERE doc_id % 2 = 0),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(sum({_DOC_CKSUM_SQL}) AS BIGINT) AS checksum
               FROM src)
    SELECT fmt, n_rows, checksum
    FROM c, (VALUES ('parquet'), ('orc'), ('csv'), ('json')) AS f(fmt)
    """,
)
def q197_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the slice in each format, read it back through that
    format's parser (CSV/JSON with the explicit schema — never
    inference), checksum, one audit row per format.  CSV and JSON are
    full text serializations, so this catches quoting, type-mangling
    (long->string), and null-encoding defects that parquet/ORC can't
    exhibit.  Audit rows are collected before scratch deletion; at
    production scale the same gate runs on a sampled slice because the
    checksum is one combinable aggregate per format."""
    src = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(*_COLS)
    )
    with tempfile.TemporaryDirectory(prefix="q197_", ignore_cleanup_errors=True) as scratch:
        rows = []
        for fmt in ("parquet", "orc", "csv", "json"):
            path = os.path.join(scratch, fmt)
            writer = src.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                # a distinct nullValue sentinel + emptyValue "" keeps
                # empty strings from reading back as NULL (they are
                # indistinguishable under the defaults), and multiLine
                # tolerates newline-bearing text - without these the
                # gate held only because the synthetic texts are
                # non-empty and newline-free (r3 ADVICE)
                writer = (
                    writer.option("header", "true").option("nullValue", "\\N")
                )
            writer.save(path)
            reader = spark.read.format(fmt)
            if fmt in ("csv", "json"):
                reader = reader.schema(_DOC_SCHEMA)
            if fmt == "csv":
                reader = (
                    reader.option("header", "true")
                    .option("nullValue", "\\N")
                    .option("emptyValue", "")
                    .option("multiLine", "true")
                )
            back = reader.load(path).select(*_COLS)
            r = _doc_cksum(back).collect()[0]
            rows.append((fmt, r["n_rows"], r["checksum"]))
        return spark.createDataFrame(rows, "fmt string, n_rows long, checksum long")


# -- q198: partitioned write + partition-pruned readback
@query(
    "q198_partition_pruning",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) = DATE '2024-01-15'
    GROUP BY 1
    """,
)
def q198_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events land partitioned by day (the layout every event lake
    uses); reading one day back must touch ONE partition directory —
    the filter is on the partition column, so Catalyst prunes at
    planning time (tests/test_formats.py pins partitions-read == 1).
    The value gate proves the partitioned roundtrip + pruned scan
    reproduce the plain filtered aggregate bit-for-bit.  Timestamps
    ride as microsecond longs through the partition layout — the
    partition column itself is never used to reconstruct ts, so no
    timezone coupling."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        bfround(F.col("value") * 100).cast("long").alias("cents"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    )
    with tempfile.TemporaryDirectory(prefix="q198_", ignore_cleanup_errors=True) as scratch:
        # ts as micros long: plain TimestampNTZ round-trips fine too,
        # but the integer form keeps the gate unit-proof (io.py sniff)
        ev.withColumn("ts_us", F.unix_micros("ts")).drop("ts").write.mode(
            "overwrite"
        ).partitionBy("day").parquet(scratch)
        day = spark.read.parquet(scratch).filter(F.col("day") == "2024-01-15")
        out = day.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        rows = out.collect()
        return spark.createDataFrame(
            [(r["event_type"], r["n"], r["value_cents"]) for r in rows],
            "event_type string, n long, value_cents long",
        )
