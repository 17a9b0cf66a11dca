"""M45 — estimation & measurement ops (round 3 continuation).

* q193 — Neyman-optimal stratified sample allocation: how many sample
  rows each stratum deserves under a fixed budget, proportional to
  N_h * S_h.  The design step before every stratified eval sample
  (q57 draws one; this decides its shape).
* q194 — capture-recapture (Lincoln-Petersen) estimate of distinct
  population size from two deterministic hash samples — the estimator
  that prices a dedup pass before running it, audited against the
  exact distinct count.
* q195 — Flesch-style readability per source: syllable-group heuristic
  over the token stream, sentences from punctuation runs; the
  text-quality lens orthogonal to q27's stopword/length stats.
* q196 — join-cardinality estimation audit: predict |A join B| from a
  heavy-hitter sketch of each side's key histogram (top keys exact,
  tail assumed uniform) and compare to the true product-sum — the
  measurement an optimizer's estimator would be graded by.

Registered after m44 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..operators.ranking import top_k_ranked
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q193: Neyman allocation over nation strata (budget n = 1000)
@query(
    "q193_neyman_allocation",
    f"""
    WITH s AS (SELECT c_nationkey AS nat,
                      CAST(count(*) AS BIGINT) AS nh,
                      CAST(sum(CAST({bfround_sql('c_acctbal * 100', 0)} AS BIGINT)) AS BIGINT)
                        AS sc,
                      CAST(sum(CAST({bfround_sql('c_acctbal * 100', 0)} AS BIGINT)
                               * CAST({bfround_sql('c_acctbal * 100', 0)} AS BIGINT)) AS BIGINT)
                        AS sc2
               FROM customer GROUP BY 1),
         v AS (SELECT nat, nh,
                      sqrt((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nh)
                           / (nh - 1)) AS sd
               FROM s WHERE nh >= 2),
         t AS (SELECT sum(nh * sd) AS denom FROM v)
    SELECT nat, nh,
           {bfround_sql('sd / 100', 4)} AS sd_bal,
           {bfround_sql('nh * sd / t.denom', 6)} AS weight,
           CAST({bfround_sql('1000 * nh * sd / t.denom', 0)} AS BIGINT) AS alloc
    FROM v, t
    """,
)
def q193_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_h = n * N_h S_h / sum(N_j S_j): big, high-variance strata get
    the sample.  Per-stratum moments are exact cent-grid integers from
    one combinable groupBy; the sd/weight algebra runs on the 25-row
    stratum summary.  (Proportional allocation is the weight column
    with S_h struck out — the comparison is why the sd column ships.)"""
    cents = bfround(F.col("c_acctbal") * 100).cast("long")
    s = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nat"), cents.alias("c"))
        .groupBy("nat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nh"),
            F.sum("c").cast("long").alias("sc"),
            # r10 q227-class audit: Σc² is row-count dependent (cents²
            # ≈ 1e12 per customer → long overflow at ~9.2e6 rows per
            # stratum); DECIMAL(19,0)² products sum exactly in d38
            F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
            .alias("sc2"),
        )
    )
    v = s.filter(F.col("nh") >= 2).select(
        "nat",
        "nh",
        F.sqrt(
            (
                F.col("sc2").cast("double")
                - F.col("sc").cast("double") * F.col("sc") / F.col("nh")
            )
            / (F.col("nh") - 1)
        ).alias("sd"),
    )
    t = v.agg(F.sum(F.col("nh") * F.col("sd")).alias("denom"))
    return (
        v.crossJoin(F.broadcast(t))
        .select(
            "nat",
            "nh",
            bfround(F.col("sd") / 100, 4).alias("sd_bal"),
            bfround(F.col("nh") * F.col("sd") / F.col("denom"), 6).alias("weight"),
            bfround(F.lit(1000) * F.col("nh") * F.col("sd") / F.col("denom"))
            .cast("long")
            .alias("alloc"),
        )
    )


# -- q194: capture-recapture distinct-count estimate, audited
@query(
    "q194_capture_recapture",
    f"""
    WITH k AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
         m AS (SELECT key,
                      ('0x' || substring(md5('capA:' || CAST(key AS VARCHAR)),
                                         1, 8))::BIGINT % 100 < 20 AS in_a,
                      ('0x' || substring(md5('capB:' || CAST(key AS VARCHAR)),
                                         1, 8))::BIGINT % 100 < 20 AS in_b
               FROM k),
         c AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
                      CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                      CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                      CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                           AS BIGINT) AS nab
               FROM m)
    SELECT n_true, na, nb, nab,
           CAST({bfround_sql('CAST(na AS DOUBLE) * nb / nab', 0)} AS BIGINT) AS n_est,
           {bfround_sql('abs(CAST(na AS DOUBLE) * nb / nab - n_true) / n_true', 6)}
             AS rel_error
    FROM c
    """,
)
def q194_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen: two independent 20% hash captures of the
    distinct key space; N_hat = |A||B|/|A∩B|.  Membership is a pure
    function of the key (md5 threshold, q82's rule), so both captures
    are one projection over the distinct-key set — this is how you
    price a dedup or distinct-count job from samples without HLL
    machinery, and the audit columns grade the estimator against the
    exact count."""
    k = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key")
    ).distinct()

    def in_capture(salt: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt + ":"), F.col("key").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < 20
        )

    m = k.select(in_capture("capA").alias("in_a"), in_capture("capB").alias("in_b"))
    c = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.col("in_a").cast("int")).cast("long").alias("na"),
        F.sum(F.col("in_b").cast("int")).cast("long").alias("nb"),
        F.sum((F.col("in_a") & F.col("in_b")).cast("int")).cast("long").alias("nab"),
    )
    est = F.col("na").cast("double") * F.col("nb") / F.col("nab")
    return c.select(
        "n_true",
        "na",
        "nb",
        "nab",
        bfround(est).cast("long").alias("n_est"),
        bfround(F.abs(est - F.col("n_true")) / F.col("n_true"), 6).alias("rel_error"),
    )


# -- q195: Flesch-style readability per source
@query(
    "q195_readability",
    f"""
    WITH d AS (SELECT source, text,
                      len(list_filter(str_split_regex(trim(lower(text)), '\\s+'),
                                      t -> t != '')) AS words,
                      greatest(len(str_split_regex(text, '[.!?]+')) - 1, 1)
                        AS sentences,
                      len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS syllables
               FROM documents WHERE length(trim(text)) > 0),
         s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(words) AS BIGINT) AS tw,
                      CAST(sum(sentences) AS BIGINT) AS ts,
                      CAST(sum(syllables) AS BIGINT) AS tsy
               FROM d GROUP BY 1)
    SELECT source, n_docs,
           {bfround_sql('CAST(tw AS DOUBLE) / ts', 4)} AS words_per_sentence,
           {bfround_sql('CAST(tsy AS DOUBLE) / tw', 4)} AS syllables_per_word,
           {bfround_sql('''206.835 - 1.015 * (CAST(tw AS DOUBLE) / ts)
                 - 84.6 * (CAST(tsy AS DOUBLE) / tw)''', 4)} AS flesch
    FROM s
    """,
)
def q195_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per source from corpus-total counts: words
    (whitespace tokens), sentences (punctuation runs, floor 1),
    syllables (vowel-group heuristic — the standard dictionary-free
    approximation).  All three are exact integer sums off one scan;
    the formula runs on the 20-row source summary.  Complements q27's
    length/stopword quality stats with the classic readability lens."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    d = docs.select(
        "source",
        F.size(toks).alias("words"),
        F.greatest(
            F.size(F.split("text", r"[.!?]+")) - 1, F.lit(1)
        ).alias("sentences"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)).alias(
            "syllables"
        ),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("tw"),
        F.sum("sentences").cast("long").alias("ts"),
        F.sum("syllables").cast("long").alias("tsy"),
    )
    wps = F.col("tw").cast("double") / F.col("ts")
    spw = F.col("tsy").cast("double") / F.col("tw")
    return s.select(
        "source",
        "n_docs",
        bfround(wps, 4).alias("words_per_sentence"),
        bfround(spw, 4).alias("syllables_per_word"),
        bfround(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4).alias("flesch"),
    )


# -- q196: join-cardinality estimation audit (heavy-hitter sketch)
_TOPK = 20


@query(
    "q196_join_card_estimate",
    f"""
    WITH a AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS ca
               FROM lineitem GROUP BY 1),
         b AS (SELECT s_suppkey AS key, CAST(count(*) AS BIGINT) AS cb
               FROM supplier GROUP BY 1),
         truth AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS actual
                   FROM a JOIN b USING (key)),
         atop AS (SELECT key, ca FROM
                    (SELECT key, ca, row_number() OVER (ORDER BY ca DESC, key) AS rn
                     FROM a) WHERE rn <= {_TOPK}),
         astats AS (SELECT CAST(sum(ca) AS BIGINT) AS tot,
                           CAST(count(*) AS BIGINT) AS nk
                    FROM a),
         topstats AS (SELECT CAST(sum(ca) AS BIGINT) AS toptot,
                             CAST(count(*) AS BIGINT) AS topn
                      FROM atop),
         exact_part AS (SELECT CAST(sum(atop.ca * b.cb) AS BIGINT) AS e
                        FROM atop JOIN b USING (key)),
         tail_part AS (
            -- tail keys of A assumed uniform: avg tail multiplicity x
            -- the b-rows whose keys are NOT top keys of A
            SELECT CAST({bfround_sql('''(CAST(astats.tot - topstats.toptot AS DOUBLE)
                      / nullif(astats.nk - topstats.topn, 0))
                     * (SELECT sum(cb) FROM b
                        WHERE key NOT IN (SELECT key FROM atop))''', 0)} AS BIGINT) AS e
            FROM astats, topstats)
    SELECT truth.actual,
           exact_part.e + coalesce(tail_part.e, 0) AS estimate,
           {bfround_sql('''abs(CAST(exact_part.e + coalesce(tail_part.e, 0) AS DOUBLE)
                     - truth.actual) / truth.actual''', 6)} AS rel_error
    FROM truth, exact_part, tail_part
    """,
)
def q196_join_card_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |lineitem join supplier| from a {_TOPK}-key heavy-hitter
    sketch of the fact side (top keys exact, tail uniform) and grade it
    against the true product-sum.  Both the sketch and the truth come
    from the same two per-key count aggregates; the estimator algebra
    is sketch-sized.  This is the quality metric a CBO's estimator
    ships with — q140's stats audit checks what Spark's CBO stores,
    this checks what such stats can actually predict."""
    # both per-key count tables are key-cardinality-sized and consumed
    # by 3-4 downstream branches each; unpinned, every branch re-ran
    # the fact-table aggregate (round-6 census: lineitem scanned 5x)
    a = pin(
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("ca"))
    )
    b = pin(
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    # r10 q227-class audit: per-key count products are row-count
    # dependent (a skewed many-many join reaches ca*cb >= 2^63 per
    # key); DECIMAL(19,0)^2 -> d38 products sum exactly, and the final
    # long cast raises loudly only if the TOTAL join cardinality
    # itself exceeds int64 (the output contract).
    d19 = "decimal(19,0)"
    truth = a.join(b, "key").agg(
        F.sum(F.col("ca").cast(d19) * F.col("cb").cast(d19))
        .cast("long")
        .alias("actual")
    )
    atop = top_k_ranked(
        a, _TOPK, [F.col("ca").desc(), F.col("key")], "rn"
    ).select("key", "ca")
    astats = a.agg(
        F.sum("ca").cast("long").alias("tot"), F.count(F.lit(1)).cast("long").alias("nk")
    )
    topstats = atop.agg(
        F.sum("ca").cast("long").alias("toptot"),
        F.count(F.lit(1)).cast("long").alias("topn"),
    )
    exact_part = atop.join(b, "key").agg(
        F.sum(F.col("ca").cast(d19) * F.col("cb").cast(d19))
        .cast("long")
        .alias("e_exact")
    )
    b_tail = b.join(atop.select("key"), "key", "left_anti").agg(
        F.sum("cb").cast("long").alias("cb_tail")
    )
    est_tail = bfround((F.col("tot") - F.col("toptot")).cast("double")
        / F.nullif((F.col("nk") - F.col("topn")).cast("double"), F.lit(0.0))
        * F.col("cb_tail")).cast("long")
    combined = (
        truth.crossJoin(exact_part)
        .crossJoin(astats)
        .crossJoin(topstats)
        .crossJoin(b_tail)
        .select(
            "actual",
            (F.col("e_exact") + F.coalesce(est_tail, F.lit(0))).alias("estimate"),
        )
    )
    return combined.select(
        "actual",
        "estimate",
        bfround(F.abs(F.col("estimate").cast("double") - F.col("actual"))
            / F.col("actual"), 6).alias("rel_error"),
    )
