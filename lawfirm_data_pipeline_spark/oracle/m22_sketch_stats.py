"""M22 — linear sketches, exact-size weighted sampling, column stats
(round 3, fifth wave).

q118 builds a count-min sketch (linear: partition cell-counts sum to
stream cell-counts) and gates every token's estimate with the CMS
guarantees as verdict booleans (the q50/q102 pattern for answers SQL
cannot reproduce); q119 is Efraimidis–Spirakis weighted reservoir
sampling — EXACT k rows, membership a pure function of the key, so the
SQL twin reproduces it row-for-row; q120 is the full pairwise Pearson
correlation matrix of lineitem's numeric columns in one scan with zero
shuffle (decimal(38) fixed-point co-moments).

Registered after m21 — outside round 3's 50-query window; rotation:
m18-m22 register first in round 4 (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.sampling import weighted_reservoir_sample
from ..operators.sketch import cms_frequency_audit
from ..operators.stats import column_correlations
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround_sql

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"


# -- q118: count-min sketch frequency audit (verdict gate)
@query(
    "q118_cms_audit",
    f"""
    WITH toks AS (SELECT unnest({_LTOKS}) AS token FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt,
           TRUE AS within_lower, TRUE AS within_upper
    FROM toks GROUP BY token
    """,
)
def q118_cms_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS estimates can't be expressed in SQL, but their guarantees
    can be CHECKED: est >= count always (no undercount), and
    est <= count + ceil(e*N/width) at depth 4.  The oracle asserts the
    verdict booleans are all-true alongside the exact counts
    (operators/sketch.cms_frequency_audit; the sketch build shuffles at
    most depth*width cells per map task)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return cms_frequency_audit(docs, depth=4, width=256)


# -- q119: exact-k weighted reservoir sample (A-ES, hash-derandomized)
@query(
    "q119_weighted_reservoir",
    f"""
    SELECT doc_id, n_chars,
           {bfround_sql('''ln(((('0x' || substring(md5('res' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     + 1) / 4294967296.0))
                 / CAST(n_chars AS DOUBLE)''', 12)} AS sel_key
    FROM documents
    ORDER BY sel_key DESC, doc_id LIMIT 50
    """,
)
def q119_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 docs sampled without replacement with probability
    proportional to length: rank = ln(hash-uniform)/weight, top-k.
    Deterministic membership (pure function of doc_id) + sort-limit
    top-k (per-partition heads, no full sort)
    (operators/sampling.weighted_reservoir_sample)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_reservoir_sample(docs, 50, "doc_id", "n_chars", salt="res")


_Q = f"CAST({bfround_sql('l_quantity * 100', 0)} AS BIGINT)"
_P = f"CAST({bfround_sql('l_extendedprice * 100', 0)} AS BIGINT)"
_D = f"CAST({bfround_sql('l_discount * 100', 0)} AS BIGINT)"
_T = f"CAST({bfround_sql('l_tax * 100', 0)} AS BIGINT)"


def _corr_sql(x: str, y: str, sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
    n = "CAST(n AS DOUBLE)"
    corr = f"""({n} * CAST({sxy} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE))
                 / sqrt(({n} * CAST({sxx} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE))
                        * ({n} * CAST({syy} AS DOUBLE) - CAST({sy} AS DOUBLE) * CAST({sy} AS DOUBLE)))"""
    return f"""
    SELECT '{x}' AS col_x, '{y}' AS col_y, n,
           {bfround_sql(corr, 6)} + 0.0 AS corr
    FROM a"""


_PAIRS = [
    ("l_quantity", "l_extendedprice", "s_q", "s_p", "ss_q", "ss_p", "sp_qp"),
    ("l_quantity", "l_discount", "s_q", "s_d", "ss_q", "ss_d", "sp_qd"),
    ("l_quantity", "l_tax", "s_q", "s_t", "ss_q", "ss_t", "sp_qt"),
    ("l_extendedprice", "l_discount", "s_p", "s_d", "ss_p", "ss_d", "sp_pd"),
    ("l_extendedprice", "l_tax", "s_p", "s_t", "ss_p", "ss_t", "sp_pt"),
    ("l_discount", "l_tax", "s_d", "s_t", "ss_d", "ss_t", "sp_dt"),
]


# -- q120: pairwise Pearson correlations, one scan, zero shuffle
@query(
    "q120_column_correlations",
    f"""
    WITH a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum({_Q}) AS s_q, sum({_P}) AS s_p,
               sum({_D}) AS s_d, sum({_T}) AS s_t,
               sum({_Q} * {_Q}) AS ss_q, sum({_P} * {_P}) AS ss_p,
               sum({_D} * {_D}) AS ss_d, sum({_T} * {_T}) AS ss_t,
               sum({_Q} * {_P}) AS sp_qp, sum({_Q} * {_D}) AS sp_qd,
               sum({_Q} * {_T}) AS sp_qt, sum({_P} * {_D}) AS sp_pd,
               sum({_P} * {_T}) AS sp_pt, sum({_D} * {_T}) AS sp_dt
        FROM lineitem
    )
    {" UNION ALL ".join(_corr_sql(*p) for p in _PAIRS)}
    """,
)
def q120_column_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 6 Pearson correlations of lineitem's numeric columns from
    ONE global aggregate (exact decimal(38) fixed-point co-moments —
    int64 would overflow on Σ(price_fp²) at production row counts),
    assembled in a one-row projection (operators/stats.column_correlations)."""
    li = load_table(spark, sf_dir, "lineitem")
    return column_correlations(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
