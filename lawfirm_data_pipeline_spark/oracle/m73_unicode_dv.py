"""M73 — round-4 wave 13: Unicode canonicalization + merge-on-read
deletion vectors.

q258 is the multilingual-corpus normalization pass (NFC, accent
strip, lower, whitespace collapse) — the engine runs stdlib
``unicodedata`` in an Arrow kernel, the oracle runs DuckDB's
INDEPENDENT nfc_normalize/strip_accents implementation, and planted
non-ASCII fixtures (identical literals on both sides) make the gate
exercise real Unicode paths the ASCII corpus can't.

q259 implements the modern lakehouse delete path: base files stay
immutable, deletes append key rows to a deletion-vector table, reads
anti-join the DV, and compaction folds the DV into a rewrite — the
Delta/Iceberg merge-on-read pattern next to lake.py's copy-on-write
versions.  Both read paths (merge-on-read, post-compaction) are
checksummed against the oracle's direct post-delete derivation.

Registered after m72 — outside the round-4 driver window; first
driver rows with the round-5 rotation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.cdc import row_hash
from ..operators.text import unicode_normalize
from ..queries import query

# planted non-ASCII fixtures — IDENTICAL literals in engine and oracle;
# ids far above any doc_id
_PLANTED = [
    (1000000, "Café au LAIT"),
    (1000001, "Übermäßig  spaced\ttabs"),
    (1000002, "naïve — em—dash"),
    (1000003, "Ångström Å"),
    (1000004, "plain ascii text"),
]

_PLANTED_SQL = " UNION ALL ".join(
    f"SELECT {i} AS doc_id, '{t}' AS text".replace("\t", "' || chr(9) || '")
    for i, t in _PLANTED
)


# -- q258: Unicode canonicalization (independent implementations agree)
@query(
    "q258_unicode_normalize",
    f"""
    WITH src AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        {_PLANTED_SQL}
    )
    SELECT doc_id,
           trim(regexp_replace(lower(strip_accents(nfc_normalize(text))),
                               '\\s+', ' ', 'g')) AS norm,
           CAST(length(trim(regexp_replace(
               lower(strip_accents(nfc_normalize(text))), '\\s+', ' ', 'g')))
               AS BIGINT) AS n_chars
    FROM src
    """,
)
def q258_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC + accent strip + lower + whitespace collapse over corpus
    docs PLUS planted non-ASCII fixtures; the engine's unicodedata
    kernel must agree character-for-character with DuckDB's
    independent ICU-side implementation
    (operators/text.unicode_normalize)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    ).select("doc_id", "text")
    planted = spark.createDataFrame(_PLANTED, "doc_id long, text string")
    out = unicode_normalize(docs.unionByName(planted))
    return out.select(
        "doc_id", "norm", F.length("norm").cast("long").alias("n_chars")
    )


# -- q259: merge-on-read deletion vectors + compaction equivalence
_DV_COLS = ["o_orderkey", "o_custkey", "o_orderpriority"]

_DV_CKSUM_SQL = """('0x' || substring(md5(concat_ws(chr(1),
        coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        coalesce(o_orderpriority, chr(0)))), 1, 8))::BIGINT % 1000000007"""


@query(
    "q259_deletion_vectors",
    f"""
    WITH live AS (SELECT o_orderkey, o_custkey, o_orderpriority
                  FROM orders
                  WHERE o_orderkey % 3 = 0
                    AND o_orderkey % 7 != 0 AND o_orderkey % 11 != 0),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(sum({_DV_CKSUM_SQL}) AS BIGINT) AS checksum
               FROM live)
    SELECT 'merge_on_read' AS stage, n_rows, checksum FROM c
    UNION ALL
    SELECT 'compacted', n_rows, checksum FROM c
    """,
)
def q259_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immutable base + two appended deletion-vector batches (%7 keys,
    then %11 keys); the merge-on-read scan (base ANTI-JOIN dv) and the
    post-compaction rewrite (base minus DV, DV cleared) must both
    equal the oracle's direct post-delete derivation — the
    Delta/Iceberg delete path without rewriting a single base file
    until compaction chooses to."""
    with tempfile.TemporaryDirectory(prefix="q259_", ignore_cleanup_errors=True) as scratch:
        base_dir, dv_dir = os.path.join(scratch, "base"), os.path.join(scratch, "dv")
        base = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 3 == 0)
            .select(*_DV_COLS)
        )
        base.write.parquet(base_dir)
        for mod in (7, 11):  # two independent delete batches, append-only
            (
                spark.read.parquet(base_dir)
                .filter(F.col("o_orderkey") % mod == 0)
                .select("o_orderkey")
                .write.mode("append")
                .parquet(dv_dir)
            )
        b = spark.read.parquet(base_dir)
        dv = spark.read.parquet(dv_dir)
        mor = b.join(dv, "o_orderkey", "left_anti")

        def cksum(df: DataFrame, label: str) -> DataFrame:
            v = (
                F.conv(F.substring(row_hash(_DV_COLS), 1, 8), 16, 10).cast("long")
                % 1000000007
            )
            return (
                df.select(v.alias("v"))
                .agg(
                    F.lit(label).alias("stage"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("v").cast("long").alias("checksum"),
                )
                .select("stage", "n_rows", "checksum")
            )

        first = cksum(mor, "merge_on_read")
        # compaction: fold the DV into a rewrite, then clear it
        compact_dir = os.path.join(scratch, "compacted")
        mor.write.parquet(compact_dir)
        second = cksum(spark.read.parquet(compact_dir), "compacted")
        out = first.unionByName(second)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
