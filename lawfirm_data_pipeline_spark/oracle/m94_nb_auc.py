"""M94 — round-5 wave 15: naive-Bayes language ID + exact AUC.

q293 — multinomial naive Bayes, trained AND applied in one plan: the
q28-era lang-id was an n-gram heuristic; this is the statistical
classifier — per-(lang, token) add-one-smoothed likelihoods from the
corpus's own labels, per-doc classification by argmax of summed
log-likelihoods.  Numeric discipline is the established q58/q117
pattern: every log input is an exact integer ratio, each term snaps to
nano fixed point BEFORE the per-doc integer sum, so the argmax (and
the confusion-matrix gate) is engine-exact.  Train = one (lang, token)
combinable aggregate; apply = explode + broadcast model join + one
per-doc aggregate.

q294 — exact AUC via the rank statistic (Mann-Whitney): AUC =
(Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻), ties carrying average rank — kept
exact by working in DOUBLED rank units (2×avg-rank is an integer even
for odd tie runs).  One combinable groupBy(score), rank algebra on the
distinct-score aggregate via the two-phase prefix sum, one final
division — the evaluation metric next to ECE (q253) and NDCG (q254),
engine-exact at any row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..pin import pin
from ..operators.ranking import global_running_sum
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q293_naive_bayes_langid",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_LTOKS}) AS tok FROM documents
    ),
    counts AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    vocab AS (SELECT DISTINCT tok FROM toks),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    ltot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    model AS (
        SELECT l.lang, v.tok,
               CAST({bfround_sql('''ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                             / CAST(l.n + vs.v AS DOUBLE)) * 1000000000''', 0)}
                    AS BIGINT) AS nano_logp
        FROM ltot l
        CROSS JOIN vocab v
        CROSS JOIN vsize vs
        LEFT JOIN counts c ON c.lang = l.lang AND c.tok = v.tok
    ),
    scored AS (
        SELECT t.doc_id, t.lang AS true_lang, m.lang AS cand,
               CAST(sum(m.nano_logp) AS BIGINT) AS s
        FROM toks t JOIN model m ON m.tok = t.tok
        GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY s DESC, cand) AS rk
            FROM scored
        ) WHERE rk = 1
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def q293_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-apply multinomial NB; output = the confusion matrix
    (true_lang, predicted_lang, count), fully value-gated."""
    from ..operators.text import tokenized

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        tokenized(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.explode("toks").alias("tok"))
    )
    # counts is the model's multi-consumer root (vocab, ltot, and the
    # smoothing join all read it) and exchange reuse does not dedupe the
    # repeated subtree: unpinned, the plan re-tokenized the corpus ~4x
    # (round-6 scan census).  Pin the aggregated (lang, tok) table —
    # orders smaller than the corpus — and derive everything model-side
    # from it; the corpus is then tokenized exactly twice (model build +
    # scoring), which beats checkpointing a corpus-scale token table.
    counts = pin(toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("long").alias("c")))
    vocab = counts.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    ltot = counts.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    # ltot is one row per language (bounded, ~tens) but sits behind an
    # aggregate, so Catalyst has no size estimate and would plan the
    # unhinted cross join as a CartesianProduct (both sides "unknown ->
    # big").  Broadcasting the language totals makes it a
    # BroadcastNestedLoopJoin over the large vocab side — the only
    # shape that survives a 100 TB corpus vocabulary.
    model = (
        F.broadcast(ltot).crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(counts, ["lang", "tok"], "left")
        .select(
            "lang",
            "tok",
            bfround(F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n") + F.col("v")).cast("double")
                )
                * 1e9)
            .cast("long")
            .alias("nano_logp"),
        )
    )
    scored = (
        toks.join(
            model.select(F.col("lang").alias("cand"), "tok", "nano_logp"),
            "tok",
        )
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand")
        .agg(F.sum("nano_logp").cast("long").alias("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), "cand")
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@query(
    "q294_exact_auc",
    f"""
    WITH base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) % 10000 AS score
        -- scored rows only (r12 nulls axis): a NULL o_totalprice
        -- has no score; AUC is defined over scored examples
        FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
    ),
    ranked AS (
        SELECT y, score,
               row_number() OVER (ORDER BY score, y) AS rn
        FROM base
    ),
    tie_avg AS (
        -- average rank per tied score group, in DOUBLED units (always
        -- an integer): 2*avg = min_rn + max_rn
        SELECT y, CAST(min(rn) OVER (PARTITION BY score)
                       + max(rn) OVER (PARTITION BY score) AS BIGINT)
                    AS rank2
        FROM ranked
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN y = 1 THEN rank2 ELSE 0 END) AS BIGINT)
                 AS sum_rank2_pos,
               CAST(sum(y) AS BIGINT) AS npos,
               CAST(sum(1 - y) AS BIGINT) AS nneg
        FROM tie_avg
    )
    SELECT npos, nneg,
           CAST(sum_rank2_pos - npos * (npos + 1) AS DOUBLE)
             / CAST(2 * npos * nneg AS DOUBLE) AS auc
    FROM agg
    """,
)
def q294_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney AUC with exact tie handling in doubled-rank
    integers.  The oracle ranks ROWS; here the same doubled ranks come
    from the per-SCORE aggregate: a tied group's ranks are contiguous,
    so min_rn + max_rn = 2*cum_before + n_s + 1 — one combinable
    groupBy(score) over the scan, then all rank algebra on the
    distinct-score table (ranking.global_running_sum two-phase prefix
    sum; never a row-scale single-task window), one IEEE division at
    the end.  Heavy ties (price digits mod 10^4) are the hard case the
    doubled-integer form keeps exact."""
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        # scored rows only (mirrors the SQL twin's IS NOT NULL)
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            (bfround(F.col("o_totalprice") * 100).cast("long") % 10000).alias(
                "score"
            ),
        )
    )
    return exact_auc(base)


def exact_auc(base: DataFrame) -> DataFrame:
    """(npos, nneg, auc) from a frame of (y ∈ {0,1}, score): the exact
    tie-averaged Mann-Whitney statistic, distributed (fuzz-gated vs a
    brute-force pairwise mirror in tests/test_auc_fuzz.py)."""
    per = base.groupBy("score").agg(
        F.sum("y").cast("long").alias("npos_s"),
        F.count(F.lit(1)).cast("long").alias("n_s"),
    )
    cum = global_running_sum(
        per, "n_s", [F.col("score")], "cum_before", exclusive=True
    )
    # rank2 (= min_rn + max_rn of the tied group) applies to every row
    # in the group; positives contribute npos_s of them
    agg = cum.select(
        (
            F.col("npos_s")
            * (2 * F.col("cum_before") + F.col("n_s") + 1)
        ).alias("r2p"),
        "npos_s",
        (F.col("n_s") - F.col("npos_s")).alias("nneg_s"),
    ).agg(
        F.sum("r2p").cast("long").alias("sum_rank2_pos"),
        F.sum("npos_s").cast("long").alias("npos"),
        F.sum("nneg_s").cast("long").alias("nneg"),
    )
    return agg.select(
        "npos",
        "nneg",
        (
            (F.col("sum_rank2_pos") - F.col("npos") * (F.col("npos") + 1)).cast(
                "double"
            )
            / (2 * F.col("npos") * F.col("nneg")).cast("double")
        ).alias("auc"),
    )
