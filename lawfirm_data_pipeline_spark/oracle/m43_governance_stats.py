"""M43 — corpus governance + training-data statistics (round 3 cont.).

* q185 — cross-SOURCE shingle containment matrix: which corpus slices
  leak into which (the governance grain above q76's train-vs-eval
  decontamination and q122's doc-pair containment).  The engine
  aggregates each shingle's source set into a 20-bit mask FIRST, so
  pair expansion runs over mask groups (hundreds) instead of per
  shingle — the 100 TB shape; the oracle states the naive self-join.
* q186 — k-NN label-agreement audit over the embeddings: vectors whose
  neighbors vote against their own label are the mislabeled-example
  candidates every training-data pipeline quarantines.
* q187 — weight-of-evidence (WOE) / information-value binning of order
  value against the urgent-priority target: the classic credit-scoring
  feature audit, bucketed by exact percentile thresholds (q170's
  broadcast-cuts shape, never ntile's global sort).
* q188 — jackknife confidence interval for mean order value via 10
  hash strata: leave-one-stratum-out means snapped to micro
  fixed-point so every moment is an exact integer until the final
  sqrt (q167 discipline).

Registered after m42 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..operators.similarity import brute_force_topk
from ..operators.text import shingles_of, tokenized
from ..queries import query
from ._shared import _COS, LTOKS_SQL as _LTOKS, SHINGLES_SQL as _SHINGLES
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


def guarded_max_source_bit(t: DataFrame) -> DataFrame:
    """One-row ``max_s`` over column ``s``, raising in-plan when any
    source index would overflow a 63-bit mask (r3 ADVICE: fail loudly,
    never wrap shiftleft).  Split out so the guard is unit-testable
    (tests/test_advice_regressions.py)."""
    return t.agg(
        F.when(F.max("s") < 63, F.max("s"))
        .otherwise(
            F.raise_error("q185 bit-mask overlap supports at most 63 sources")
        )
        .cast("int")
        .alias("max_s")
    )


# -- q185: cross-source shingle containment matrix
@query(
    "q185_source_overlap",
    f"""
    WITH t AS (SELECT CAST(substring(source, 4) AS INT) AS s,
                      {_LTOKS} AS toks
               FROM documents),
         p AS (SELECT DISTINCT s, unnest({_SHINGLES}) AS sh FROM t),
         d AS (SELECT s, CAST(count(*) AS BIGINT) AS nd FROM p GROUP BY 1),
         c AS (SELECT a.s AS ia, b.s AS ib, CAST(count(*) AS BIGINT) AS n_shared
               FROM p a JOIN p b ON a.sh = b.sh AND a.s < b.s
               GROUP BY 1, 2)
    SELECT 'src' || ia AS source_a, 'src' || ib AS source_b, n_shared,
           {bfround_sql('CAST(n_shared AS DOUBLE) / da.nd', 6)} AS containment_a,
           {bfround_sql('CAST(n_shared AS DOUBLE) / db.nd', 6)} AS containment_b
    FROM c JOIN d da ON da.s = ia JOIN d db ON db.s = ib
    """,
)
def q185_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise |shingles(a) ∩ shingles(b)| with per-side containment
    ratios.  Engine plan: distinct (source, shingle) -> bit_or of
    1<<source_idx per shingle -> count per MASK -> expand set-bit pairs
    per mask group (the wedge-comprehension trick from triangle
    counting) -> sum.  Pair expansion touches one row per distinct
    mask, not one per shingle — at corpus scale that's the difference
    between ~400 output rows from ~2^20 mask groups and a C(s,2)
    explosion on every boilerplate shingle."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokenized(docs, id_col="source").select(
        F.substring("source", 4, 10).cast("int").alias("s"), "toks"
    )
    # the distinct (source, shingle) table feeds BOTH the per-source
    # denominators and the mask build — materialize the tokenize +
    # explode + distinct once instead of once per consumer
    p = pin(t.select("s", F.explode(shingles_of(F.col("toks"), 3)).alias("sh")).distinct())
    d = p.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    masks = p.groupBy("sh").agg(
        F.bit_or(
            F.call_function("shiftleft", F.lit(1).cast("long"), F.col("s"))
        ).alias("mask")
    )
    mask_counts = masks.groupBy("mask").agg(F.count(F.lit(1)).alias("cnt"))
    # the unpack bound derives from the DATA (max source index), and a
    # 63rd+ source fails loudly instead of silently wrapping shiftleft /
    # dropping its pairs (r3 ADVICE: the old fixed sequence(0,19) would
    # under-count a 21st source while the oracle counted it).
    # r12 OPTIMIZATION (guide §2.4): read the bound from the PINNED
    # p, not from t — the old form re-ran the tokenize pipeline over the
    # whole corpus just for max(s).  shiftleft only ever sees sources
    # present in p, so guarding p's max is exactly the overflow guard.
    smax = guarded_max_source_bit(p)
    mask_counts = mask_counts.crossJoin(F.broadcast(smax))
    idxs = F.filter(
        F.sequence(F.lit(0), F.col("max_s")),
        lambda i: F.call_function("shiftright", F.col("mask"), i).bitwiseAND(F.lit(1))
        == 1,
    )
    pair_structs = F.expr(
        "flatten(transform(idxs, (x, i) ->"
        " transform(slice(idxs, i + 2, size(idxs)), y -> struct(x, y))))"
    )
    pairs = (
        mask_counts.withColumn("idxs", idxs)
        .select("cnt", F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.x").alias("ia"), F.col("pr.y").alias("ib"))
        .agg(F.sum("cnt").cast("long").alias("n_shared"))
    )
    da = d.select(F.col("s").alias("ia"), F.col("nd").alias("na"))
    db = d.select(F.col("s").alias("ib"), F.col("nd").alias("nb"))
    return (
        pairs.join(F.broadcast(da), "ia")
        .join(F.broadcast(db), "ib")
        .select(
            F.concat(F.lit("src"), F.col("ia")).alias("source_a"),
            F.concat(F.lit("src"), F.col("ib")).alias("source_b"),
            "n_shared",
            bfround(F.col("n_shared") / F.col("na"), 6).alias("containment_a"),
            bfround(F.col("n_shared") / F.col("nb"), 6).alias("containment_b"),
        )
    )


# -- q186: k-NN label-agreement audit (mislabeled-example candidates)
@query(
    "q186_knn_label_noise",
    f"""
    WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 100),
         scored AS (
            SELECT q.query_id, q.qlabel, c.vec_id, c.label,
                   {_COS.format(a='q.qv', b='c.v')} AS score
            FROM c CROSS JOIN q WHERE c.vec_id != q.query_id
         ),
         ranked AS (
            SELECT query_id, qlabel, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rank
            FROM scored
         )
    SELECT query_id AS vec_id, max(qlabel) AS label,
           CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           (sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) <= 1) AS suspicious
    FROM ranked WHERE rank <= 5
    GROUP BY query_id
    """,
)
def q186_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each of 100 audit vectors: how many of its 5 exact-cosine
    nearest neighbors share its label?  n_agree <= 1 flags the vector
    as a probable labeling error (neighborhood votes ~9:1 against).
    Rides brute_force_topk's broadcast-query plan — the corpus is
    scanned once, never shuffled (operators/similarity.py:49); the
    LSH/IVF paths substitute for the exact scorer at billion-vector
    scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    nn = brute_force_topk(emb, queries, k=5)
    lab = emb.select("vec_id", "label")
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    # when(...).otherwise(0) mirrors the twin's CASE WHEN ... ELSE 0:
    # a NULL label comparison counts as NOT agreeing; the bare
    # cast("int") form summed NULLs to NULL (r12 nulls axis)
    agree = F.sum(
        F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    ).cast("long")
    return (
        nn.join(lab, "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .groupBy("query_id")
        .agg(F.max("qlabel").alias("label"), agree.alias("n_agree"))
        .select(
            F.col("query_id").alias("vec_id"),
            "label",
            "n_agree",
            (F.col("n_agree") <= 1).alias("suspicious"),
        )
    )


# -- q187: WOE / information-value binning of order value vs urgency
@query(
    "q187_woe_binning",
    f"""
    WITH o AS (SELECT CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents,
                      (o_orderpriority = '1-URGENT') AS ev
               FROM orders),
         cuts AS (SELECT list_transform(quantile_cont(cents,
                      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                      x -> {bfround_sql('x * 1e6', 0)} / 1e6) AS c
                  FROM o),
         b AS (SELECT 1 + len(list_filter(cuts.c, x -> o.cents > x)) AS bin,
                      ev
               FROM o, cuts),
         g AS (SELECT CAST(bin AS BIGINT) AS bin,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_event
               FROM b GROUP BY 1),
         t AS (SELECT sum(n_event) AS te, sum(n) - sum(n_event) AS tn FROM g)
    SELECT bin, n, n_event,
           {bfround_sql('CAST(n_event AS DOUBLE) / n', 6)} AS event_rate,
           {bfround_sql('''ln((CAST(n_event AS DOUBLE) / te)
                    / (CAST(n - n_event AS DOUBLE) / tn))''', 6)} AS woe,
           {bfround_sql('''(CAST(n_event AS DOUBLE) / te
                  - CAST(n - n_event AS DOUBLE) / tn)
                 * ln((CAST(n_event AS DOUBLE) / te)
                      / (CAST(n - n_event AS DOUBLE) / tn))''', 6)} AS iv_term
    FROM g, t
    """,
)
def q187_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence per order-value decile against the URGENT
    target: the standard scorecard-feature audit (flat WOE = the
    feature carries no signal; monotone WOE = safe to bin-encode).
    Deciles come from nine exact percentile cuts on the integer-cent
    grid broadcast back over the scan (q170's shape); every count is
    an exact integer, and WOE/IV are single double expressions over
    those integers, written identically on both sides."""
    o = load_table(spark, sf_dir, "orders").select(
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").alias("ev"),
    )
    cuts = o.agg(
        F.expr(
            "transform(percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)),"
            f" x -> {bfround_sql('x * 1e6', 0)} / 1e6)"
        ).alias("c")
    )
    b = o.crossJoin(F.broadcast(cuts)).select(
        (F.lit(1) + F.size(F.filter(F.col("c"), lambda x: F.col("cents") > x)))
        .cast("long")
        .alias("bin"),
        "ev",
    )
    # 10-row bin table, two consumers (totals + final) — unpinned, the
    # second re-ran the whole scan+bin pass (round-6 census: orders 4x)
    g = pin(
        b.groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("ev").cast("int")).cast("long").alias("n_event"),
        )
    )
    t = g.agg(
        F.sum("n_event").alias("te"), (F.sum("n") - F.sum("n_event")).alias("tn")
    )
    ev_share = F.col("n_event") / F.col("te")
    ne_share = (F.col("n") - F.col("n_event")) / F.col("tn")
    woe = F.log(ev_share / ne_share)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            "n_event",
            bfround(F.col("n_event") / F.col("n"), 6).alias("event_rate"),
            bfround(woe, 6).alias("woe"),
            bfround((ev_share - ne_share) * woe, 6).alias("iv_term"),
        )
    )


# -- q188: jackknife CI for mean order value (10 hash strata)
@query(
    "q188_jackknife_ci",
    f"""
    WITH o AS (SELECT CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents,
                      ('0x' || substring(md5('jk:' || CAST(o_orderkey AS VARCHAR)),
                                         1, 8))::BIGINT % 10 AS stratum
               FROM orders),
         s AS (SELECT stratum, CAST(sum(cents) AS BIGINT) AS sc,
                      CAST(count(*) AS BIGINT) AS n
               FROM o GROUP BY 1),
         tot AS (SELECT CAST(sum(sc) AS BIGINT) AS ts,
                        CAST(sum(n) AS BIGINT) AS tn,
                        CAST(count(*) AS BIGINT) AS g
                 FROM s),
         m AS (SELECT CAST({bfround_sql('CAST(ts - sc AS DOUBLE) / (tn - n) * 1e6', 0)}
                           AS BIGINT) AS m_fp
               FROM s, tot),
         j AS (SELECT CAST(count(*) AS BIGINT) AS g,
                      CAST(sum(m_fp) AS BIGINT) AS sm,
                      sum(CAST(m_fp AS HUGEINT) * m_fp) AS sm2
               FROM m)
    SELECT tot.tn AS n_orders,
           {bfround_sql('CAST(tot.ts AS DOUBLE) / tot.tn', 2)} AS mean_cents,
           {bfround_sql('''sqrt(CAST(j.g - 1 AS DOUBLE) / j.g
                      * CAST(j.g * j.sm2 - CAST(j.sm AS HUGEINT) * j.sm AS DOUBLE)
                      / (CAST(j.g AS DOUBLE) * j.g)) / 1e6''', 2)} AS jk_se_cents
    FROM tot, j
    """,
)
def q188_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error of mean order cents over 10 md5
    strata: per-stratum exact integer (sum, count), leave-one-out
    means snapped to micro fixed-point, and the deviation sum computed
    by the g*sum(m^2) - (sum m)^2 identity — exact integers until the
    final sqrt, so both engines see the same bits.  One combinable
    aggregation over the scan; all jackknife algebra runs on a 10-row
    summary."""
    o = load_table(spark, sf_dir, "orders").select(
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("jk:"), F.col("o_orderkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10
        ).alias("stratum"),
    )
    s = o.groupBy("stratum").agg(
        F.sum("cents").cast("long").alias("sc"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tot = s.agg(
        F.sum("sc").cast("long").alias("ts"),
        F.sum("n").cast("long").alias("tn"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    m = s.crossJoin(F.broadcast(tot)).select(
        bfround((F.col("ts") - F.col("sc")).cast("double") / (F.col("tn") - F.col("n")) * 1e6)
        .cast("long")
        .alias("m_fp")
    )
    # m_fp ~ mean-cents * 1e6 ~ 1e13, so m_fp^2 ~ 1e26: square in
    # decimal(38,0) (HUGEINT on the DuckDB side) — int64 would wrap
    j = m.agg(
        F.count(F.lit(1)).cast("long").alias("jg"),
        F.sum("m_fp").cast("long").alias("sm"),
        F.sum(F.col("m_fp").cast("decimal(38,0)") * F.col("m_fp")).alias("sm2"),
    )
    sm_dec = F.col("sm").cast("decimal(38,0)")
    se = (
        F.sqrt(
            (F.col("jg") - 1).cast("double")
            / F.col("jg")
            * (F.col("jg") * F.col("sm2") - sm_dec * sm_dec).cast("double")
            / (F.col("jg").cast("double") * F.col("jg"))
        )
        / 1e6
    )
    return (
        tot.crossJoin(j)
        .select(
            F.col("tn").alias("n_orders"),
            bfround(F.col("ts").cast("double") / F.col("tn"), 2).alias("mean_cents"),
            bfround(se, 2).alias("jk_se_cents"),
        )
    )
