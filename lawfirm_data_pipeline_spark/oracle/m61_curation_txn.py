"""M61 — round-4 wave: catalog transactions, SemDeDup policy,
dictionary tagging, CUPED.

q224 gates the cross-writer-atomic multi-table transaction
(sources/lake.Catalog — the lake's one commit point; reference
semantics: Postgres ``$transaction``, src/db/client/effect.ts:369-396)
end to end: stage a two-table mutation, commit atomically, read back
through one catalog snapshot, checksum.  The conflict/abort path is
process-level (two racing writers) and is pytest-gated in
tests/test_lake.py.

q225-q227 add three training-pipeline curation/measurement operators:
SemDeDup keep/drop policy over embeddings, dictionary keyword tagging,
and CUPED variance-reduced experiment readout.

Registered after m60 — OUTSIDE the round-4 driver window (the 50 slots
are spoken for by the q97+ backlog); first driver rows come with the
round-5 rotation.  Until then: two-scale local differential (sf0.01 +
sf0.1) green at registration, rows in BASELINE.md.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.cdc import row_hash
from ..operators.similarity import semantic_dedup_policy
from ..operators.stats import cuped_adjusted_means
from ..operators.text import keyword_tags
from ..queries import query
from ..sources.lake import Catalog
from ._shared import LTOKS_SQL as _LTOKS
from ._shared import PLANT_SQL as _PLANT_SQL
from ._shared import _COS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_ORD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
_LI_COLS = ["l_orderkey", "l_partkey", "l_linenumber"]

_ORD_CKSUM_SQL = """('0x' || substring(md5(concat_ws(chr(1),
        coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
        coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
        coalesce(o_orderstatus, chr(0)),
        coalesce(o_orderpriority, chr(0)))), 1, 8))::BIGINT % 1000000007"""

_LI_CKSUM_SQL = """('0x' || substring(md5(concat_ws(chr(1),
        coalesce(CAST(l_orderkey AS VARCHAR), chr(0)),
        coalesce(CAST(l_partkey AS VARCHAR), chr(0)),
        coalesce(CAST(l_linenumber AS VARCHAR), chr(0)))), 1, 8))::BIGINT % 1000000007"""
_PAIR_COS = _COS.format(a="a.v", b="b.v")


def _cksum(df: DataFrame, cols: list[str], label: str) -> DataFrame:
    v = F.conv(F.substring(row_hash(cols), 1, 8), 16, 10).cast("long") % 1000000007
    return (
        df.select(v.alias("v"))
        .agg(
            F.lit(label).alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("checksum"),
        )
        .select("tbl", "n_rows", "checksum")
    )


# -- q224: atomic multi-table transaction through the catalog log
@query(
    "q224_multi_table_transaction",
    f"""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      CASE WHEN o_orderkey % 5 = 0 THEN 'X'
                           ELSE o_orderstatus END AS o_orderstatus,
                      o_orderpriority
               FROM orders WHERE o_orderkey % 3 = 0),
         l AS (SELECT l_orderkey, l_partkey, l_linenumber
               FROM lineitem
               WHERE l_orderkey % 3 = 0 AND l_orderkey % 5 != 0)
    SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_ORD_CKSUM_SQL}) AS BIGINT) AS checksum
    FROM o
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT),
           CAST(sum({_LI_CKSUM_SQL}) AS BIGINT)
    FROM l
    """,
)
def q224_multi_table_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table cancel-orders transaction: flag every %5 order 'X' in
    ``orders`` AND drop its ``lineitem`` rows, committed as ONE catalog
    commit file — a reader resolving both tables from one snapshot can
    never see the status flip without the cascade (per-table commits,
    one after the other, would leave that window open).  The gate
    reads the post-state back through a fresh snapshot and checksums
    both tables; the oracle computes the expected post-state directly.
    Commit cost is one O_EXCL file create regardless of data volume —
    the distributed writes all happen before the commit point."""
    with tempfile.TemporaryDirectory(prefix="q224_", ignore_cleanup_errors=True) as scratch:
        cat = Catalog(scratch)
        orders = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 3 == 0)
            .select(*_ORD_COLS)
        )
        li = (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") % 3 == 0)
            .select(*_LI_COLS)
        )
        t0 = cat.transaction()
        t0.stage("orders", orders)
        t0.stage("lineitem", li)
        t0.commit()

        t1 = cat.transaction()
        o1 = t1.read(spark, "orders").withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        l1 = t1.read(spark, "lineitem").filter(F.col("l_orderkey") % 5 != 0)
        t1.stage("orders", o1)
        t1.stage("lineitem", l1)
        t1.commit()

        snap = cat.snapshot()
        out = _cksum(cat.read(spark, "orders", snap), _ORD_COLS, "orders").unionByName(
            _cksum(cat.read(spark, "lineitem", snap), _LI_COLS, "lineitem")
        )
        # materialize before the scratch dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# -- q225: SemDeDup keep/drop policy over the planted embedding corpus
@query(
    "q225_semantic_dedup",
    f"""
    WITH vecs AS ({_PLANT_SQL}),
         pairs AS (
            SELECT a.vec_id AS ida, b.vec_id AS idb
            FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
            WHERE {bfround_sql(_PAIR_COS, 6)} >= 0.9
         ),
         drops AS (SELECT idb AS vec_id, CAST(count(*) AS BIGINT) AS n_lower_dups
                   FROM pairs GROUP BY 1)
    SELECT v.vec_id, d.vec_id IS NULL AS kept,
           coalesce(d.n_lower_dups, 0) AS n_lower_dups
    FROM vecs v LEFT JOIN drops d ON d.vec_id = v.vec_id
    """,
)
def q225_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup curation decision table (keep-lowest-id): sign-LSH
    buckets stand in for the k-means step, exact cosine verifies, and
    every vector gets a (kept, n_lower_dups) verdict — the table a
    training pipeline joins against its corpus.  The oracle is the
    exact all-pairs policy; they agree because planted near-dups are
    nearly parallel (per-pair miss ~4.3e-7 at the 8-plane x 16-table
    defaults — the sf1 differential caught the 8-table default missing
    one pair) and noise pairs sit near cosine 0
    (operators/similarity.semantic_dedup_policy)."""
    from ._shared import planted_vectors

    return semantic_dedup_policy(
        planted_vectors(spark, sf_dir), threshold=0.9, id_col="vec_id", vec_col="v"
    )


# -- q226: dictionary keyword tagging (content-classifier shape)
_KEYWORDS = ["join", "merge", "spark", "stream", "vector", "window"]


@query(
    "q226_keyword_tags",
    f"""
    WITH t AS (SELECT doc_id, list_distinct({_LTOKS}) AS toks FROM documents),
         m AS (SELECT doc_id,
                      list_sort(list_intersect(toks,
                          {_KEYWORDS!r}::VARCHAR[])) AS tags
               FROM t)
    SELECT doc_id, array_to_string(tags, '|') AS tags_str,
           CAST(len(tags) AS BIGINT) AS n_tags
    FROM m WHERE len(tags) > 0
    """,
)
def q226_keyword_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary tagging over the corpus: array_intersect of each
    doc's distinct tokens against a literal keyword array — pure JVM
    map stage, no shuffle, no Python; the broadcast-join regime for
    large dictionaries is documented on the operator
    (operators/text.keyword_tags)."""
    return keyword_tags(load_table(spark, sf_dir, "documents"), _KEYWORDS)


# -- q227: CUPED variance-reduced A/B readout over events
_SPLIT = "2024-01-08"


@query(
    "q227_cuped_readout",
    f"""
    WITH e AS (SELECT user_id, user_id % 2 AS arm,
                      CASE WHEN ts < TIMESTAMP '{_SPLIT} 00:00:00'
                           THEN CAST({bfround_sql('value * 100', 0)} AS BIGINT)
                           ELSE 0 END AS pre,
                      CASE WHEN ts >= TIMESTAMP '{_SPLIT} 00:00:00'
                           THEN CAST({bfround_sql('value * 100', 0)} AS BIGINT)
                           ELSE 0 END AS post
               FROM events),
         u AS (SELECT user_id, arm,
                      CAST(sum(pre) AS BIGINT) AS pre_cents,
                      CAST(sum(post) AS BIGINT) AS post_cents
               FROM e GROUP BY 1, 2),
         p AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                      CAST(sum(pre_cents) AS HUGEINT) AS sp,
                      CAST(sum(post_cents) AS HUGEINT) AS so,
                      sum(CAST(pre_cents AS HUGEINT) * pre_cents) AS spp,
                      sum(CAST(pre_cents AS HUGEINT) * post_cents) AS spo
               FROM u),
         a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_a,
                      CAST(sum(pre_cents) AS BIGINT) AS sp_a,
                      CAST(sum(post_cents) AS BIGINT) AS so_a
               FROM u GROUP BY 1)
    SELECT arm, n_a AS n_users,
           {bfround_sql('(CAST(so_a AS DOUBLE) / n_a) / 100.0', 6)} AS raw_mean,
           {bfround_sql('''(CAST(so_a AS DOUBLE) / n_a
                  - (CAST(n * spo - sp * so AS DOUBLE)
                     / CAST(n * spp - sp * sp AS DOUBLE))
                    * (CAST(sp_a AS DOUBLE) / n_a - CAST(sp AS DOUBLE) / n))
                 / 100.0''', 6)} AS adjusted_mean
    FROM a, p
    """,
)
def q227_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted per-arm means (pre-period value as the control
    covariate, arms = user_id parity): exact cent sums end to end
    (BIGINT counts/sums, DECIMAL(38,0) product sums — HUGEINT on the
    DuckDB side), theta and the adjusted means derived from a handful
    of scalars in one final projection — no float aggregation
    anywhere, so the distributed result hash-matches the
    single-threaded oracle at every scale; the former all-BIGINT
    derivation overflowed at sf3 (operators/stats.cuped_adjusted_means
    headroom note)."""
    cents = bfround(F.col("value") * 100).cast("long")
    split = F.lit(f"{_SPLIT} 00:00:00").cast("timestamp")
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("ts") < split, cents).otherwise(F.lit(0)).alias("pre"),
        F.when(F.col("ts") >= split, cents).otherwise(F.lit(0)).alias("post"),
    )
    per_user = e.groupBy("user_id", "arm").agg(
        F.sum("pre").cast("long").alias("pre_cents"),
        F.sum("post").cast("long").alias("post_cents"),
    )
    return cuped_adjusted_means(per_user)
