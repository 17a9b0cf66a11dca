"""M6b — deduplication oracle queries (charter §2.C).

The driver corpus has no natural duplicates, so each query plants
deterministic mutated copies (same derivation on both sides): doc_id %
10 == 0 re-enters as doc_id + 100000 with the first token dropped — a
near-duplicate, not an exact one.  Dedup operators must find the planted
pairs and nothing vacuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_bits,
)
from ..queries import query
from ._shared import (
    LTOKS_SQL as _LTOKS,
    PLANTED_CORPUS_SQL as _CORPUS_SQL,
    SHINGLES_SQL as _SHINGLES,
    planted_corpus as _planted_corpus,
)
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql


@query(
    "q31_exact_dedup",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS ltoks FROM corpus),
         fp AS (SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(ltoks)), ' ')) AS fp
                FROM t)
    SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
    FROM fp GROUP BY fp
    """,
)
def q31_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: the planted exact copies (and
    any near-copies whose token SET survived the first-token drop)
    collapse; group_size > 1 for planted groups."""
    return exact_dedup(_planted_corpus(spark, sf_dir))


@query(
    "q32_ngram_jaccard",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS toks FROM corpus),
         idx AS (SELECT DISTINCT doc_id AS did, unnest({_SHINGLES}) AS sh FROM t),
         sizes AS (SELECT did, count(*) AS sz FROM idx GROUP BY did),
         common AS (
            SELECT a.did AS ida, b.did AS idb, count(*) AS common
            FROM idx a JOIN idx b ON a.sh = b.sh AND a.did < b.did
            GROUP BY 1, 2
         )
    SELECT ida, idb,
           {bfround_sql('CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)', 6)} AS jaccard
    FROM common
    JOIN sizes sa ON sa.did = ida
    JOIN sizes sb ON sb.did = idb
    WHERE {bfround_sql('CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)', 6)} >= 0.5
    """,
)
def q32_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df_cap gates candidate generation off stop-shingles (the scale-safe
    default — an ungated shingle self-join is quadratic on hot keys);
    emitted Jaccard values are still exact over full shingle sets, so the
    all-pairs oracle hash-matches."""
    from ._shared import planted_jaccard_pairs

    return planted_jaccard_pairs(spark, sf_dir)


_K = 8  # minhash permutations in the oracle-checked signature

_MH_AGGS_SQL = ",\n           ".join(
    f"min(md5('{i}|' || sh)) AS mh{i}" for i in range(_K)
)


@query(
    "q33_minhash_signatures",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS toks FROM corpus),
         idx AS (SELECT doc_id, unnest({_SHINGLES}) AS sh FROM t)
    SELECT doc_id,
           {_MH_AGGS_SQL}
    FROM idx GROUP BY doc_id
    """,
)
def q33_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 MinHash signature; md5-simulated permutations are reproducible
    in DuckDB exactly (lexicographic min over hex digests)."""
    return minhash_signatures(_planted_corpus(spark, sf_dir), k=_K, n=3)


_BANDS = 4
_RPB = _K // _BANDS
_BAND_KEYS_SQL = ", ".join(
    "md5('{b}|' || {cols}) AS band{b}".format(
        b=b,
        cols=" || '|' || ".join(f"mh{b * _RPB + r}" for r in range(_RPB)),
    )
    for b in range(_BANDS)
)


@query(
    "q34_lsh_candidates",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, {_LTOKS} AS toks FROM corpus),
         idx AS (SELECT doc_id, unnest({_SHINGLES}) AS sh FROM t),
         sigs AS (SELECT doc_id, {_MH_AGGS_SQL} FROM idx GROUP BY doc_id),
         bands AS (SELECT doc_id, {_BAND_KEYS_SQL} FROM sigs),
         stacked AS (
            SELECT doc_id AS did, unnest([band0, band1, band2, band3]) AS bucket
            FROM bands
         )
    SELECT DISTINCT a.did AS ida, b.did AS idb
    FROM stacked a JOIN stacked b ON a.bucket = b.bucket AND a.did < b.did
    """,
)
def q34_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows) over the q33 signatures: planted
    near/exact dups collide in ≥1 band."""
    sigs = minhash_signatures(_planted_corpus(spark, sf_dir), k=_K, n=3)
    return lsh_candidate_pairs(sigs, bands=_BANDS, rows_per_band=_RPB)


_BITS = 16
_SIM_VOTES_SQL = ", ".join(
    f"sum(CASE WHEN substring(md5(tok), {j}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}".format(j=j)
    for j in range(1, _BITS + 1)
)
_SIM_CONCAT_SQL = " || ".join(
    f"(CASE WHEN v{j} >= 0 THEN '1' ELSE '0' END)" for j in range(1, _BITS + 1)
)


@query(
    "q35_simhash",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
         t AS (SELECT doc_id, list_distinct({_LTOKS}) AS toks FROM corpus),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         votes AS (SELECT doc_id, {_SIM_VOTES_SQL} FROM tok GROUP BY doc_id)
    SELECT doc_id, {_SIM_CONCAT_SQL} AS sig
    FROM votes
    """,
)
def q35_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (majority vote over md5-nibble high bits
    of the distinct token set)."""
    return _planted_corpus(spark, sf_dir).select(
        "doc_id", simhash_bits("text", bits=_BITS).alias("sig")
    )
