"""M15 — corpus-scale training-data ops (round 2 charter additions).

Sequence packing (concat-and-chunk placement map via a distributed
two-phase prefix sum), budgeted mixture sampling, and passage-level
exact dedup.  Each has an exact DuckDB twin; DuckDB expresses the
global running sum as a plain unpartitioned window (fine at oracle
scale — the Spark side exists precisely because that plan does NOT
survive 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import passage_dedup_stats
from ..operators.cdc import table_diff
from ..operators.packing import pack_sequences, packing_summary, shard_assignments
from ..operators.sampling import mixture_sample
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

_TOKS_RAW = "list_filter(str_split_regex(trim(text), '\\s+'), t -> t != '')"
_BUCKET = "(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)"

# Exclusive global running token tok_offset in md5-of-id order — the
# oracle-side mirror of operators/packing.exclusive_prefix_sum.
_OFFSETS = f"""
    t AS (SELECT doc_id, {_TOKS_RAW} AS toks FROM documents),
    s AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tok,
                 md5(CAST(doc_id AS VARCHAR)) AS ok
          FROM t WHERE len(toks) > 0),
    o AS (SELECT doc_id, n_tok,
                 CAST(coalesce(sum(n_tok) OVER (ORDER BY ok
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS tok_offset
          FROM s)
"""


# -- q81: sequence packing placement map (ctx_len = 512)
@query(
    "q81_pack_sequences",
    f"""
    WITH {_OFFSETS}
    SELECT doc_id, n_tok, tok_offset,
           CAST(floor(tok_offset / 512.0) AS BIGINT) AS seq_first,
           CAST(floor((tok_offset + n_tok - 1) / 512.0) AS BIGINT) AS seq_last,
           CAST(floor((tok_offset + n_tok - 1) / 512.0)
                - floor(tok_offset / 512.0) + 1 AS BIGINT) AS n_seqs
    FROM o
    """,
)
def q81_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's place in the packed ctx-512 token stream.  The
    global cumsum runs as a two-phase bucketed scan (256-way parallel +
    one 256-row broadcast), NOT the single-partition global window the
    naive formulation implies (operators/packing.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, ctx_len=512)


# -- q82: budgeted mixture sampling toward a uniform source mix
@query(
    "q82_mixture_sample",
    f"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len({_TOKS_RAW}) AS DOUBLE) AS sz
               FROM documents),
         per AS (SELECT source, sum(sz) AS ssz FROM t GROUP BY source),
         tot AS (SELECT sum(ssz) AS tsz, CAST(count(*) AS DOUBLE) AS tw FROM per),
         frac AS (SELECT source,
                         least(1.0, ((0.5 * tsz) * (1.0 / tw)) / ssz) AS kf
                  FROM per, tot)
    SELECT t.source, CAST(count(*) AS BIGINT) AS n_kept
    FROM t JOIN frac USING (source)
    WHERE {_BUCKET} < kf * 10000
    GROUP BY t.source
    """,
)
def q82_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample over-represented sources toward a uniform mixture
    under a 50%-of-corpus token budget — keep fractions computed
    in-plan (tiny aggs + broadcasts), membership by md5 threshold
    (operators/sampling.mixture_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    sz = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""))
    kept = mixture_sample(
        docs, key="doc_id", stratum="source", size_col=sz, budget_frac=0.5
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


# -- q83: passage-level exact dedup stats (32-token passages)
@query(
    "q83_passage_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_RAW} AS toks FROM documents),
         n AS (SELECT doc_id, toks,
                      CAST(ceil(len(toks) / 32.0) AS INT) AS nc
               FROM t WHERE len(toks) > 0),
         p AS (SELECT doc_id, i AS pidx,
                      md5(array_to_string(toks[i * 32 + 1 : i * 32 + 32], ' ')) AS h
               FROM n, unnest(generate_series(0, nc - 1)) AS u(i)),
         r AS (SELECT doc_id, pidx,
                      row_number() OVER (PARTITION BY h ORDER BY doc_id, pidx) AS rn
               FROM p)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
           {bfround_sql('''CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)''', 6)} AS dup_frac
    FROM r GROUP BY doc_id
    """,
)
def q83_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection whole-doc dedup misses: repeated 32-token
    passages anywhere in the corpus, canonical copy = globally smallest
    (doc, idx).  min-struct groupBy on the passage md5 — a megapopular
    passage is one agg row, never a join explosion
    (operators/dedup.passage_dedup_stats)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return passage_dedup_stats(docs, passage_tokens=32)


# -- q84: corpus packing report
@query(
    "q84_packing_summary",
    f"""
    WITH {_OFFSETS}
    SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(ceil(sum(n_tok) / 512.0) AS BIGINT) AS n_sequences,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN floor((tok_offset + n_tok - 1) / 512.0)
                              > floor(tok_offset / 512.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
    FROM o
    """,
)
def q84_packing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row packing audit: total tokens, ctx-512 sequence count
    (zero padding by construction), and documents straddling a sequence
    boundary (attention-contamination proxy)."""
    docs = load_table(spark, sf_dir, "documents")
    return packing_summary(pack_sequences(docs, ctx_len=512), ctx_len=512)


# -- q85: equal-byte shard assignment (8 shards)
@query(
    "q85_shard_assignments",
    """
    WITH s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS sz,
                      md5(CAST(doc_id AS VARCHAR)) AS ok
               FROM documents),
         o AS (SELECT doc_id, sz,
                      CAST(coalesce(sum(sz) OVER (ORDER BY ok
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS BIGINT) AS boff
               FROM s),
         tot AS (SELECT sum(sz) AS t FROM s)
    SELECT CAST(least(floor(boff / ceil(t / 8.0)), 7) AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(sz) AS BIGINT) AS total_bytes
    FROM o, tot
    GROUP BY 1
    """,
)
def q85_shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-BYTE output shards (naive repartition balances row counts
    and lets one fat shard stall every downstream reader): running byte
    offsets via the two-phase scan, shard = contiguous byte range
    (operators/packing.shard_assignments)."""
    docs = load_table(spark, sf_dir, "documents")
    sharded = shard_assignments(docs, n_shards=8, size_col="n_chars", key_col="doc_id")
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_bytes"),
    )


# -- q86: snapshot diff → CDC feed
_H_OLD = (
    "md5(concat_ws(chr(1), coalesce(CAST(o_custkey AS VARCHAR), chr(0)), "
    "coalesce(o_orderstatus, chr(0)), coalesce(o_orderpriority, chr(0))))"
)
_H_NEW = (
    "md5(concat_ws(chr(1), coalesce(CAST(o_custkey AS VARCHAR), chr(0)), "
    "coalesce(o_orderstatus, chr(0)), coalesce(CASE WHEN o_orderkey % 11 = 0 "
    "THEN '9-CHANGED' ELSE o_orderpriority END, chr(0))))"
)


@query(
    "q86_snapshot_diff",
    f"""
    WITH o AS (SELECT o_orderkey, {_H_OLD} AS h FROM orders WHERE o_orderkey % 7 != 0),
         n AS (SELECT o_orderkey, {_H_NEW} AS h FROM orders WHERE o_orderkey % 5 != 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                      CASE WHEN o.h IS NULL THEN 'insert'
                           WHEN n.h IS NULL THEN 'delete'
                           WHEN o.h != n.h THEN 'update' END AS change
               FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey, change FROM j WHERE change IS NOT NULL
    """,
)
def q86_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two table snapshots: both sides reduce to
    (key, row-md5) BEFORE the full-outer equi-join, so the shuffle is
    fixed-width however wide the table, and unchanged keys never
    materialize (operators/cdc.table_diff)."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("9-CHANGED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return table_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_custkey", "o_orderstatus", "o_orderpriority"],
    )
