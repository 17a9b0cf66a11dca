"""Corpus-curation operators a pretraining-data pipeline runs at scale:
repetition-based quality signals, benchmark decontamination, PII
redaction, vocabulary building, and importance-weighted sampling.

All are charter additions (SURVEY §2.C) over the ``documents`` table.
Scale posture, per operator:

* ``repetition_stats`` — two explodes (unigram, bigram) each followed by
  a two-level aggregation with map-side partial combine; shuffle keys are
  (doc_id, gram) so skew follows document length, which is bounded.
* ``ngram_contamination`` — the benchmark side (an eval set: thousands of
  docs, not billions) collapses to a distinct shingle-hash set that is
  broadcast; the corpus side is one explode + broadcast semi-join, so the
  100 TB scan never shuffles.  Shingles are md5'd to fixed 32-byte keys
  before the join so the exchange/broadcast carries hashes, not raw
  n-gram text.
* ``pii_redact`` / ``pii_stats`` — pure scan-side regexp projections
  (JVM codegen, no Python).
* ``vocab_topk`` — explode + count with map-side combine; the final
  global top-k sorts only the aggregated vocabulary (≪ corpus size).
* ``weighted_hash_keep`` — deterministic per-row Bernoulli keep with
  probability proportional to a weight column, derived from an md5
  bucket like operators/sampling.py: membership is a pure function of
  the key, stable across runs/partitionings/engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin
from . import text as TX
from .sampling import hash_bucket
from lawfirm_data_pipeline_spark.functions.rounding import bfround

# PII patterns restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB), so the oracle twin is exact: no lookaround, no \b.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _mode_count(sorted_arr: Column) -> Column:
    """Occurrence count of the most frequent element, given a SORTED
    array: the longest equal-run, one O(n) fold (the sort is
    O(n log n)).  Replaces the count-per-distinct scan, which is
    O(n_distinct * n) per document — quadratic on natural text where
    n_distinct ~ n."""
    run = lambda acc, t: (
        F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
    )
    return F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            run(acc, t).alias("run"),
            F.greatest(acc["best"], run(acc, t)).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word
    fraction, most-common-word fraction, most-common-bigram fraction.

    High values mark boilerplate/spam (nav bars, keyword stuffing) that
    perplexity filters miss.  Returns
    ``(id, n_tok, dup_word_frac, top_word_frac, top_bigram_frac)``;
    documents with no tokens are dropped (no signal).

    Entirely scan-side: per-document signals need no corpus context, so
    there is NO explode/groupBy — token and bigram arrays materialize
    once per row (two chained projections; CollapseProject keeps the
    multiply-referenced arrays) and the mode counts are in-row passes.
    The in-row mode scan is O(n_distinct · n) per document — fine for
    web-document lengths; for pathological multi-megabyte docs, chunk
    first (text.chunk_tokens).  At 100 TB this runs at scan throughput
    with zero shuffle, vs two full-corpus explode+groupBy shuffles for
    the naive formulation.
    """
    toksed = docs.select(
        _c(id_col).alias(id_col), TX.tokens(F.lower(_c(text_col))).alias("toks")
    )
    arred = toksed.select(
        id_col,
        "toks",
        F.array_sort("toks").alias("sorted_toks"),
        F.array_distinct("toks").alias("dist"),
        TX.shingles_of(F.col("toks"), 2).alias("bigs"),
    ).withColumn("sorted_bigs", F.array_sort("bigs"))
    n_tok = F.size("toks")
    n_big = F.size("bigs")
    return arred.filter(n_tok > 0).select(
        id_col,
        n_tok.cast("long").alias("n_tok"),
        bfround(1 - F.size("dist") / n_tok, 6).alias("dup_word_frac"),
        bfround(_mode_count(F.col("sorted_toks")) / n_tok, 6).alias(
            "top_word_frac"
        ),
        F.when(
            n_big > 0,
            bfround(_mode_count(F.col("sorted_bigs")) / n_big, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids of training documents sharing any word ``n``-gram with a
    benchmark/eval corpus — the standard decontamination check run
    before pretraining (n=8..13 word overlap).

    The benchmark's distinct shingle hashes are broadcast (eval sets are
    small by construction); the corpus side is a single explode feeding a
    broadcast LEFT SEMI join, so at 100 TB nothing wide shuffles and the
    scan stays one pass.  Shingles are md5-hashed on both sides so the
    broadcast carries fixed-width keys.
    """
    d = (
        TX.tokenized(docs, text_col, id_col)
        .select(id_col, F.explode(TX.shingles_of(F.col("toks"), n)).alias("g"))
        .select(id_col, F.md5("g").alias("h"))
    )
    b = (
        benchmark.select(TX.tokens(F.lower(_c(text_col))).alias("toks"))
        .select(F.explode(TX.shingles_of(F.col("toks"), n)).alias("g"))
        .select(F.md5("g").alias("h"))
        .distinct()
    )
    return d.join(F.broadcast(b), "h", "left_semi").select(id_col).distinct()


def pii_redact(text: Column | str) -> Column:
    """Replace emails, phone numbers, and IPv4 addresses with typed
    placeholder tags.  Application order is fixed (email → phone → ip)
    so overlapping matches resolve deterministically."""
    c = F.regexp_replace(_c(text), EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PHONE_RE, "<PHONE>")
    return F.regexp_replace(c, IPV4_RE, "<IP>")


def pii_stats(text: Column | str) -> dict[str, Column]:
    """Per-document PII match counts (email/phone/ipv4) — the audit
    projection logged before redaction."""
    c = _c(text)
    return {
        "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
        "n_phones": F.regexp_count(c, F.lit(PHONE_RE)),
        "n_ips": F.regexp_count(c, F.lit(IPV4_RE)),
    }


def vocab_topk(
    docs: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Global top-k vocabulary by corpus frequency — the tokenizer-
    training precursor.  Ties broken by term so the cut is deterministic.

    One explode + one groupBy (map-side combine collapses each partition
    to its local vocabulary before the exchange); the orderBy/limit runs
    on the aggregated vocab, which is orders of magnitude smaller than
    the corpus.
    """
    return (
        docs.select(F.explode(TX.tokens(F.lower(_c(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(k)
    )


def cross_source_overlap(
    docs: DataFrame,
    n: int = 5,
    stratum: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise n-gram overlap between strata — the train/eval leakage
    matrix (which sources share verbatim passages with which).

    A shingle's fan-out is bounded by #strata (tens), NEVER by document
    count — a passage shared by a billion docs of two sources is still
    one stratum entry per side.  One shuffle on the shingle key, then a
    #strata²-row aggregate.  Returns (source_a, source_b,
    n_shared_shingles) for pairs with overlap > 0.

    r12 OPTIMIZATION (guide §2.4): the previous DISTINCT (stratum,
    shingle) index was SELF-JOINED, which evaluated the tokenize +
    shingle + distinct pipeline twice (two full document scans in the
    before-plan).  ``collect_set(stratum)`` per shingle IS the distinct
    index — map-side partial sets dedupe before the exchange — and the
    bounded per-shingle stratum set expands to canonical pairs in-row
    (the basket_pairs slice trick), so the self-join disappears: one
    tokenize pass, one shingle-key exchange, one tiny pair aggregate
    (sf0.1 in-session A/B: 1.37 s → 0.95 s, match-verified).
    """
    toksed = docs.select(F.col(stratum), TX.tokens(F.lower(_c(text_col))).alias("toks"))
    srcs = (
        toksed.select(
            F.col(stratum), F.explode(TX.shingles_of(F.col("toks"), n)).alias("sh")
        )
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set(F.col(stratum))).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = srcs.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "transform(slice(ss, i + 2, size(ss)), "
                "y -> struct(x AS source_a, y AS source_b))))"
            )
        ).alias("e")
    ).select("e.*")
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_shingles")
    )


def oov_stats(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary table.

    The tokenizer-coverage audit: after training a vocab (``vocab_topk``)
    you measure what fraction of each document's tokens fall outside it —
    high-OOV docs are the ones a fixed tokenizer will shred.  ``vocab``
    is a 1-column (``w``) table, broadcast (vocabularies are small by
    construction); the plan is explode -> broadcast left join -> one
    per-doc agg.  Exact integer counts; the rate divides once at the end.

    Returns (id, n_tok, n_oov, oov_rate rounded to 6).
    """
    tok = docs.select(F.col(id_col), F.explode(TX.tokens(F.lower(_c(text_col)))).alias("w"))
    marked = tok.join(
        F.broadcast(vocab.select(F.col("w"), F.lit(1).alias("_in"))), on="w", how="left"
    )
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    return agg.select(
        id_col,
        "n_tok",
        "n_oov",
        bfround(F.col("n_oov").cast("double") / F.col("n_tok"), 6).alias("oov_rate"),
    )


def weighted_hash_keep(
    df: DataFrame, key: str, weight: Column, salt: str = "w"
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    ``clamp(weight, 0, 1)``, decided by the row's md5 bucket — stable
    across runs/partitionings and reproducible in ANSI SQL, unlike
    seeded ``sample()``.  Zero shuffle (scan-side filter)."""
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), weight))
    return df.filter(hash_bucket(key, 10_000, salt) < p * 10_000)


def winsorized_stats(
    df,
    group_col: str,
    value_col: str,
    p_low: float = 0.01,
    p_high: float = 0.99,
):
    """Per-group winsorization audit: exact interpolated percentile
    bounds, clip counts, and the clipped mean — the outlier-robust
    summary a curation stage applies to quality/score columns before
    thresholding on them.

    Numeric discipline: bounds come from ONE exact percentile aggregate
    per group (Spark ``percentile`` == DuckDB ``quantile_cont``), then
    SNAP TO MICRO FIXED POINT before any comparison — the r9 sf1
    differential caught the unsnapped bound one ulp apart between
    engines (Spark 227.41 vs DuckDB 227.40999999999997, different
    interpolation evaluation order) with a 10-row tie cluster sitting
    exactly on it, flipping the strict-> clip counts by 10.  The
    interpolated value's cross-engine disagreement is ~1e-13 relative,
    so a 1e-6 grid is 5+ orders of margin; the clipped mean already
    snapped each clipped value to micro fixed point before summation,
    so every aggregate is an exact integer sum (order-independent).

    Scale: two aggregates sharing the group key — the percentile pass
    shuffles the group's values once (at 100 TB swap to
    ``approx_percentile`` + tolerance gate, the q50/q102 pattern), the
    clip pass is a broadcast join of the per-group bounds back onto the
    scan.  Output is O(groups).
    """
    bounds = df.groupBy(group_col).agg(
        (bfround(F.percentile(value_col, F.lit(p_low)) * 1e6) / 1e6).alias("__lo"),
        (bfround(F.percentile(value_col, F.lit(p_high)) * 1e6) / 1e6).alias("__hi"),
    )
    clipped = (
        df.select(group_col, value_col)
        .join(F.broadcast(bounds), group_col)
        .select(
            group_col,
            "__lo",
            "__hi",
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")).alias(
                "__v"
            ),
            # when/otherwise (not a bool cast): a NULL value must count
            # as 0, matching the SQL twin's CASE WHEN ... ELSE 0 END
            F.when(F.col(value_col) < F.col("__lo"), 1).otherwise(0).cast("long").alias("__low"),
            F.when(F.col(value_col) > F.col("__hi"), 1).otherwise(0).cast("long").alias("__high"),
        )
    )
    return (
        clipped.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            bfround(F.max("__lo"), 4).alias("p_low"),
            bfround(F.max("__hi"), 4).alias("p_high"),
            F.sum("__low").alias("n_clipped_low"),
            F.sum("__high").alias("n_clipped_high"),
            # r10 q227-class audit: Σ of 1e6-snapped values reaches
            # N·1e6·|v| — past 2^63 near 1e12 rows/group; d29 is exact
            F.sum(bfround(F.col("__v") * 1e6).cast("decimal(19,0)")).alias("__s_fp"),
        )
        .select(
            group_col,
            "n",
            "p_low",
            "p_high",
            "n_clipped_low",
            "n_clipped_high",
            bfround(F.col("__s_fp").cast("double") / 1e6 / F.col("n"), 4).alias(
                "clipped_mean"
            ),
        )
    )


def token_drift_kl(
    docs,
    split: Column | None = None,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
):
    """Per-source corpus drift: add-one-smoothed KL divergence
    KL(P_old || P_new) between the token distributions of two document
    populations (``split`` boolean column: True = old/A side).  The
    monitoring query a pipeline runs when a new crawl lands — a source
    whose language shifted screams here before any model does.

    Numeric discipline: counts are exact integers; each term's
    contribution p_a·ln(p_a/p_b) snaps to pico fixed point (1e12)
    before the per-source integer sum, so the divergence is
    partition-order independent and SQL-reproducible.

    Scale: one tokenize+explode scan to (source, side, token) counts
    (map-side combined), a full-outer merge of the two sides'
    vocabularies per source, and an O(sources) output.

    ``counts`` and ``merged`` are multi-consumer subtrees (two sides of
    the full-outer, then the normalizer and the contribution path), and
    exchange reuse does NOT dedupe them — the round-6 plan-lint census
    measured the unpinned form re-tokenizing the corpus six times even
    post-execution.  Both are pinned: they are aggregated
    (source, token)-level tables, orders smaller than the corpus.
    """
    from . import text as TXm

    split = split if split is not None else (F.col(id_col) % 2 == 0)
    tok = docs.select(
        F.col(source_col).alias("src"),
        split.alias("is_a"),
        F.explode(TXm.tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    counts = pin(tok.groupBy("src", "is_a", "w").agg(F.count(F.lit(1)).alias("c")))
    a = counts.filter("is_a").select("src", "w", F.col("c").alias("ca"))
    b = counts.filter(~F.col("is_a")).select("src", "w", F.col("c").alias("cb"))
    merged = pin(
        a.join(b, ["src", "w"], "full_outer")
        .select(
            "src",
            "w",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    per_src = merged.groupBy("src").agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("v")).cast("double")
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("v")).cast("double")
    contrib = bfround(pa * F.log(pa / pb) * 1e12).cast("long")
    return (
        merged.join(F.broadcast(per_src), "src")
        .select("src", contrib.alias("k_fp"))
        .groupBy("src")
        .agg(F.sum("k_fp").alias("s"))
        .join(F.broadcast(per_src.select("src", "v")), "src")
        .select(
            F.col("src").alias(source_col),
            F.col("v").alias("n_terms"),
            bfround(F.col("s").cast("double") / 1e12, 6).alias("kl"),
        )
    )
