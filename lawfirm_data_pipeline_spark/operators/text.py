"""Text-analysis operators for a training-data pipeline (charter §2.C).

All operators are pure Column expressions over ``documents.text`` —
JVM-side, codegen-friendly, no Python in the row path.  At 100 TB these
run map-side with zero shuffle (per-document projections), so throughput
is scan-bound; only the aggregating consumers (dedup joins, corpus stats)
shuffle.

Operators:
    tokens / token_count        — whitespace tokenization
    bpe_token_estimate          — BPE-ish regex token counting
    quality_features/score      — length / punctuation / stopword ratios
    lang_id                     — marker-word n-gram heuristic
    fingerprint                 — order-insensitive content fingerprint
    shingles                    — word n-gram shingling (dedup substrate)
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type hints at runtime

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.functions.rounding import bfround

from ..pin import pin

# Tiny per-language marker vocabularies for the heuristic language id.
# Real pipelines use char-n-gram models; the *operator shape* (argmax of
# per-language evidence scores, computed scan-side) is identical.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "de", "y"],
    "zh": ["的", "是", "不", "了", "在"],
}

# English stopwords for the quality-score ratio
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "that", "for"]

# BPE-ish token regex: words, numbers, or single non-space symbols —
# the standard cheap proxy for subword token counts.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empty strings removed.

    PERF: Spark's Column API re-evaluates a shared subtree at every
    reference once higher-order functions push the projection off the
    codegen path — so ``size(tokens(text)) / filter(tokens(text), ...)``
    tokenizes twice.  Hot paths should materialize the token array once
    per row (``select(tokens(...).alias("toks"))``) and use the
    ``*_of(toks)`` variants below: CollapseProject keeps a non-trivial
    alias referenced more than once materialized, so the split runs once
    (8x observed on shingling the sf0.1 corpus).
    """
    return F.filter(F.split(F.trim(_c(text)), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_token_estimate(text: Column | str) -> Column:
    """Count of BPE-ish regex matches — subword-count proxy."""
    return F.regexp_count(_c(text), F.lit(BPE_RE))


def stopword_ratio_of(ltoks: Column) -> Column:
    """Stopword-hit ratio over a materialized lowercased token column."""
    sw = F.array([F.lit(w) for w in STOPWORDS])
    hits = F.size(F.filter(ltoks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(ltoks) > 0, hits / F.size(ltoks)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str) -> Column:
    return stopword_ratio_of(tokens(F.lower(_c(text))))


def punct_ratio(text: Column | str) -> Column:
    c = _c(text)
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def mean_word_len_of(toks: Column) -> Column:
    """Mean token length over a materialized token column."""
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_len(text: Column | str) -> Column:
    return mean_word_len_of(tokens(text))


def quality_score_of(text: Column | str, toks: Column, ltoks: Column) -> Column:
    """quality_score over pre-materialized token columns (``toks`` =
    tokens(text), ``ltoks`` = tokens(lower(text))) — one tokenizer pass
    per row instead of one per feature."""
    n_tok = F.size(toks)
    len_band = F.when((n_tok >= 20) & (n_tok <= 1000), 1.0).when(n_tok >= 5, 0.5).otherwise(0.0)
    wl = mean_word_len_of(toks)
    shape = F.when((wl >= 3.0) & (wl <= 10.0), 1.0).otherwise(0.3)
    punct = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.2)
    stop = F.when(stopword_ratio_of(ltoks) >= 0.05, 1.0).otherwise(0.4)
    return bfround((len_band + shape + punct + stop) / 4.0, 6)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + word shape +
    punctuation sanity + stopword presence.  The exact recipe is less
    important than being a deterministic scan-side projection the
    filter/sample stages can push on."""
    c = _c(text)
    return quality_score_of(c, tokens(c), tokens(F.lower(c)))


def lang_scores_of(ltoks: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over a materialized token column."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array([F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(ltoks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id_of(ltoks: Column) -> Column:
    """argmax over language marker scores; ties and zero evidence → 'und'.

    Deterministic tie-break: higher score wins, then lexicographic lang.
    """
    scores = lang_scores_of(ltoks)
    # build struct array (score, lang) and take max — array_max on structs
    # compares field-wise, giving score-then-lang ordering
    entries = F.array(
        *[F.struct(s.alias("score"), F.lit(lang).alias("lang")) for lang, s in sorted(scores.items())]
    )
    best = F.array_max(entries)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id(text: Column | str) -> Column:
    return lang_id_of(tokens(F.lower(_c(text))))


def fingerprint_of(ltoks: Column) -> Column:
    """Order-insensitive fingerprint over a materialized token column."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(ltoks)), " "))


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set.  Robust to token reordering — the batch analogue of a
    rolling-hash content signature."""
    return fingerprint_of(tokens(F.lower(_c(text))))


def prefix_fingerprint_of(ltoks: Column, k: int = 5) -> Column:
    """md5 of the first k tokens — a locality-sensitive prefix signature
    (collides for documents sharing an opening)."""
    return F.md5(F.array_join(F.slice(ltoks, 1, k), " "))


def tfidf_topk(docs, k: int = 3, text_col: str = "text", id_col: str = "doc_id"):
    """Top-k terms per document by TF-IDF over the given corpus.

    Corpus-level operator (DataFrame in, DataFrame out): one explode of
    the token array, a per-(doc, term) count, a per-term document
    frequency, and the document count joined back broadcast-style.  At
    100 TB the explode and the (doc, term) groupBy are the only wide
    stages and both partial-aggregate map-side; the df / n_docs sides are
    tiny aggregates that broadcast.

    tf = term_count / doc_token_count; idf = ln(n_docs / df); ties broken
    by term for determinism.  Returns (doc_id, term, tfidf, rank).
    """
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    # term_counts feeds three consumers (doc lengths, document
    # frequencies, the tf join); pinned, the corpus tokenizes exactly
    # once.  doc_lens derives algebraically from it (sum of per-term
    # counts = token count) instead of re-exploding the corpus.
    term_counts = pin(toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tc")))
    doc_lens = term_counts.groupBy(id_col).agg(F.sum("tc").alias("dl"))
    df_counts = term_counts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        term_counts.join(doc_lens, id_col)
        .join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            bfround((F.col("tc") / F.col("dl")) * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def chunk_tokens(text: Column | str, size: int = 64, overlap: int = 16) -> Column:
    """Split a document into overlapping token-window chunks — the
    training-data chunking primitive (context-window packing).

    Returns ``array<struct<chunk_idx int, chunk string>>``; stride =
    size - overlap.  A pure expression: explode downstream to get one
    row per chunk (1 doc → N chunks, map-side, no shuffle).
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    toks = tokens(_c(text))
    # chunk starts: 1, 1+stride, ... while start <= len (last partial kept)
    n_chunks = F.when(
        F.size(toks) > 0, F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride)).cast("int")
    ).otherwise(F.lit(0))
    n_chunks = F.greatest(n_chunks, F.when(F.size(toks) > 0, F.lit(1)).otherwise(F.lit(0)))
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.when(F.size(toks) > 0, F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.array_join(F.slice(toks, i * stride + 1, size), " ").alias("chunk"),
        ),
    )).otherwise(F.array().cast("array<struct<chunk_idx:int,chunk:string>>"))


def unigram_logprob_scores(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the cheap perplexity proxy real curation pipelines
    (CCNet-style) filter on: gibberish scores far below fluent text.

    Numeric discipline: per-term logs are snapped to nano-fixed-point
    BIGINTs, so the per-doc accumulation is an exact integer sum —
    order-independent, hence identical under any partitioning and
    reproducible by the DuckDB oracle.  Plan: one explode + two
    aggregations; corpus vocab joins back broadcast-sized.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local alias clarity)

    tok = docs.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
    # tc feeds two consumers (the corpus unigram model on the broadcast
    # side and the per-doc scoring join) — unpinned the tokenize+explode+
    # count pipeline runs once per consumer (guide §5; same fix as
    # tfidf_topk's term_counts and q117's bigram table).
    tc = pin(tok.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("cnt")))
    corpus = tc.groupBy("w").agg(F.sum("cnt").alias("cw"))
    total = corpus.agg(F.sum("cw").alias("n"))
    lp = corpus.crossJoin(F.broadcast(total)).select(
        "w",
        bfround(F.log(F.col("cw").cast("double") / F.col("n")) * 1e9)
        .cast("long")
        .alias("lp_fp"),
    )
    doc = tc.join(F.broadcast(lp), "w").groupBy(id_col).agg(
        F.sum(F.col("cnt") * F.col("lp_fp")).alias("s"),
        F.sum("cnt").alias("ntok"),
    )
    return doc.select(
        id_col,
        bfround((F.col("s").cast("double") / 1e9) / F.col("ntok"), 6).alias("avg_logp"),
    )


def shingles_of(ltoks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token column.

    Documents with < n tokens produce an empty array (guarded: Spark's
    ``sequence(1, 0)`` counts DOWN rather than returning empty).

    Pass a projected alias, not an inline ``tokens(...)`` expression —
    see the PERF note on ``tokens``.
    """
    idx = F.sequence(F.lit(1), F.size(ltoks) - (n - 1))
    return F.when(
        F.size(ltoks) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(ltoks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles: substrate for Jaccard / MinHash dedup."""
    return shingles_of(tokens(F.lower(_c(text))), n)


def normalize_text(text: Column | str) -> Column:
    """Canonical text normalization for ingest: strip markup tags,
    collapse runs of whitespace to single spaces, trim, lowercase.

    Deliberately regex-only (``<[^>]*>``, ``\\s+``) so the exact same
    patterns run under Java regex (Spark) and RE2 (DuckDB/ANSI twins) —
    a whole-stage-codegen projection with zero Python in the path.
    Unicode NFKC folding needs an ICU pass this container lacks; at
    production it slots here as one more JVM projection
    (``org.apache.spark.sql.catalyst.expressions`` has no NFKC builtin —
    a scala UDF or sql `translate` table would carry it).
    """
    c = _c(text)
    no_tags = F.regexp_replace(c, r"<[^>]*>", " ")
    collapsed = F.regexp_replace(no_tags, r"\s+", " ")
    return F.lower(F.trim(collapsed))


def tokenized(docs, text_col: str = "text", id_col: str = "doc_id", lower: bool = True):
    """``(id, toks)`` projection with the token array materialized once
    per row — the entry point every corpus-level consumer (shingling,
    MinHash, contamination, repetition stats) should build on."""
    src = F.lower(F.col(text_col)) if lower else F.col(text_col)
    return docs.select(F.col(id_col), tokens(src).alias("toks"))


def pmi_bigrams(
    docs,
    min_count: int = 25,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Top-k adjacent-token pairs by pointwise mutual information —
    the collocation detector feeding tokenizer-merge candidates and
    quality heuristics ("are frequent pairs real phrases or noise?").

    PMI here is self-consistent over the bigram table: with N = total
    bigrams, l(a) = count of a as left word, r(b) = count of b as right
    word,  pmi(a,b) = ln(c_ab * N / (l_a * r_b)) — every input to the
    log is an exact integer, so the only float op is one log + round(6),
    reproducible across engines.  Ties at the rounded value break by
    (w1, w2) for a deterministic top-k cut.

    Scale: one tokenize+explode scan (adjacent pairs via index
    sequence), a map-side-combinable (w1, w2) count, and marginals
    AGGREGATED FROM the bigram table (vocabulary-sized, broadcast back)
    — the corpus stream is touched exactly once.
    """
    tok = tokenized(docs, text_col=text_col, id_col=id_col)
    big = pin(
        tok.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        # materialize: total/left/right marginals all read this table —
        # without it each branch re-runs the corpus tokenize+explode+agg
        # (measured: 8 parquet scans in the lazy plan, 1 after)
    )
    total = big.agg(F.sum("c_ab").alias("n_total"))
    left = big.groupBy("w1").agg(F.sum("c_ab").alias("c_l"))
    right = big.groupBy("w2").agg(F.sum("c_ab").alias("c_r"))
    return (
        big.filter(F.col("c_ab") >= min_count)
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_ab",
            bfround(F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n_total").cast("double")
                    / (F.col("c_l").cast("double") * F.col("c_r").cast("double"))
                ), 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )


def bigram_logprob_scores(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram model — the next fidelity step above
    ``unigram_logprob_scores``: word salad with plausible unigrams but
    impossible transitions scores low.

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), V = distinct
    continuation words in the corpus bigram table (the add-one event
    space).  Every input to the log is an exact integer; per-bigram
    logs snap to nano fixed point before the per-doc sum (the q58/q90
    discipline), so results are partition-order independent.

    Plan: the per-doc bigram count table is built once and pinned —
    both its consumers (corpus model derivation, per-doc scoring join)
    read the materialization instead of re-running tokenize+explode
    (Catalyst plans are trees; a second reference re-derives the
    subtree).  Model tables are vocabulary-sized and broadcast.

    r12 OPTIMIZATION (guide §2.4): the corpus bigram table ``cb`` has
    THREE consumers (per-w1 totals, vocabulary size, per-bigram logprob)
    and was re-aggregated from the pinned ``dbc`` once per consumer;
    pinning ``cb`` too drops two full (w1, w2) aggregation passes
    (sf0.1 in-session A/B: 2.21 s → 1.73 s, match-verified).
    """
    tok = tokenized(docs, text_col=text_col, id_col=id_col)
    dbc = pin(
        tok.filter(F.size("toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select(id_col, "b.w1", "b.w2")
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cb = pin(dbc.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12")))
    cl = cb.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = cb.agg(F.count_distinct("w2").alias("v"))
    lp = (
        cb.join(F.broadcast(cl), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            bfround(F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                )
                * 1e9)
            .cast("long")
            .alias("lp_fp"),
        )
    )
    doc = dbc.join(F.broadcast(lp), ["w1", "w2"]).groupBy(id_col).agg(
        F.sum(F.col("cnt") * F.col("lp_fp")).alias("s"),
        F.sum("cnt").alias("nbig"),
    )
    return doc.select(
        id_col,
        "nbig",
        bfround((F.col("s").cast("double") / 1e9) / F.col("nbig"), 6).alias(
            "avg_bigram_logp"
        ),
    )


def bpe_first_merges(
    docs: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """The first BPE training step: corpus-weighted adjacent character
    pair frequencies, top ``top_n`` merge candidates.

    Runs on the DISTINCT-WORD dictionary with per-word corpus
    frequencies (the dictionary is bounded by vocabulary, not corpus
    size — the same "dedupe the dictionary" shape as linkage), then
    explodes each word into its length-1 adjacent pairs and sums
    frequencies.  Top-N is orderBy+limit (TakeOrderedAndProject — a
    per-partition heap, no global sort).  Words shorter than 2 chars
    are filtered BEFORE the pair expansion: Spark's sequence(1, 0)
    yields a DESCENDING [1, 0], not an empty list.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    words = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("weight"))
        .orderBy(F.desc("weight"), F.col("pair"))
        .limit(top_n)
    )


def zipf_fit(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Zipf's-law fit per group: OLS slope of ln(freq) against ln(rank)
    over the token frequency table (natural corpora slope toward -1;
    a flat or cliffy slope flags synthetic or templated text).

    Rank windows run over the per-group VOCABULARY (bounded), not the
    token stream.  Per-row ln() terms are identical IEEE calls on both
    engines; each term is snapped to micro fixed point and the five
    co-moment sums accumulate as decimal(38) integers (vocab-sized
    products overflow int64), so the only engine-divergence surface is
    the final two-integer division."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    freq = (
        docs.select(F.col(group_col).alias("g"), F.explode(toks).alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    w = Window.partitionBy("g").orderBy(F.desc("f"), "w")
    ranked = freq.withColumn("r", F.row_number().over(w))
    x = bfround(F.log(F.col("r").cast("double")) * 1e6).cast("long")
    y = bfround(F.log(F.col("f").cast("double")) * 1e6).cast("long")
    t = ranked.select("g", x.alias("x"), y.alias("y"))
    d38 = "decimal(38,0)"
    agg = t.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sx2"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
    )
    num = (F.col("m").cast(d38) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("m").cast(d38) * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
    return agg.select(
        F.col("g").alias(group_col),
        F.col("m").alias("vocab_size"),
        bfround(num / den, 6).alias("zipf_slope"),
    )


def vocab_stats(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Vocabulary health per group: token count, vocabulary size, hapax
    count (frequency-1 types), type/token and hapax/vocab ratios — the
    Heaps'-law inputs a corpus monitor tracks as crawls accumulate.
    Two stacked map-side-combinable aggregations; ratios are one
    division each of exact integers."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    freq = (
        docs.select(F.col(group_col).alias("g"), F.explode(toks).alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return freq.groupBy(F.col("g").alias(group_col)).agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        bfround(F.count(F.lit(1)).cast("double") / F.sum("f").cast("double"), 6).alias("type_token_ratio"),
        bfround(F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"), 6).alias("hapax_ratio"),
    )


def keyword_tags(
    docs,
    keywords: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Dictionary tagging: per-doc sorted matched-term list + count for
    every document hitting at least one dictionary term.

    ``array_intersect`` of the (distinct) token array against a literal
    keyword array — a pure JVM map stage inside codegen, no shuffle, no
    Python.  This literal form serves dictionaries up to a few thousand
    terms (they ride into every task as part of the plan); past that
    the same semantics become a broadcast semi-join of exploded tokens
    against a keyword table, which ``bloomjoin.bloom_semi_join`` already
    covers — the two are the small/large regimes of one tagging op.
    """
    kw = F.array(*[F.lit(k) for k in sorted(set(keywords))])
    t = tokenized(docs, text_col=text_col, id_col=id_col)
    tags = F.array_sort(F.array_intersect(F.array_distinct("toks"), kw))
    return (
        t.select(F.col(id_col), tags.alias("tags"))
        .filter(F.size("tags") > 0)
        .select(
            id_col,
            F.array_join("tags", "|").alias("tags_str"),
            F.size("tags").cast("long").alias("n_tags"),
        )
    )


def unicode_normalize(df, text_col: str = "text", id_col: str = "doc_id"):
    """Full Unicode normalization — NFC compose, accent strip (NFD →
    drop combining marks), lowercase, whitespace collapse — the
    canonicalization pass a multilingual corpus runs before dedup.

    This is a JUSTIFIED Python boundary: Spark has no NFC/NFD builtin,
    so the kernel is an Arrow-batched pandas UDF over stdlib
    ``unicodedata`` (vs a row-at-a-time UDF: same semantics, ~10-100x
    the throughput).  Everything around it — projection pruning before
    the boundary, JVM whitespace collapse after — stays in codegen.
    Semantics verified against DuckDB's independent
    nfc_normalize/strip_accents implementation on planted non-ASCII
    fixtures (q258).
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def strip_marks(texts: pd.Series) -> pd.Series:
        def one(s: str) -> str:
            nfd = unicodedata.normalize(
                "NFD", unicodedata.normalize("NFC", s)
            )
            return "".join(c for c in nfd if unicodedata.category(c) != "Mn")

        return texts.map(one)

    stripped = F.lower(strip_marks(F.col(text_col)))
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return df.select(F.col(id_col), collapsed.alias("norm"))
