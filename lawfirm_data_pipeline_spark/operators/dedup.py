"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (charter §2.C).

Scale design (the point of each variant):

* **exact_dedup** — hash-groupBy on a fingerprint: one shuffle keyed by
  the fingerprint, group state O(1).  At 100 TB: shuffle only (doc_id,
  16-byte md5), never the text.
* **ngram_jaccard_pairs** — exact pairwise Jaccard via shingle inverted
  index (explode → self-join on shingle → count).  Quadratic in the
  worst case; use only behind a candidate filter (LSH) or on bounded
  subsets.
* **minhash_signatures / lsh_candidate_pairs** — the scale path: k
  min-hashes per doc (one explode + groupBy), banded into b buckets;
  candidate pairs come from same-bucket joins, expected cost ~linear for
  near-dup densities real corpora have.  Verify candidates with exact
  Jaccard afterwards (classic MinHash-LSH pipeline).
* **simhash** — per-doc bit signature from token hashes; near-dups =
  signatures within small Hamming distance.  Bit tricks stay in
  expressions; pairing goes through band-prefix buckets like LSH.
* **embedding_neardup_pairs** — cosine over `embeddings.embedding`;
  exact pairwise on bounded subsets, LSH-bucketed variant in
  similarity.py for scale.

Hashes are md5-based so the DuckDB oracle can reproduce them exactly;
``F.hash`` (Murmur3) would be Spark-private.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pin import pin
from .text import fingerprint, shingles_of, tokenized
from lawfirm_data_pipeline_spark.functions.rounding import bfround


def exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp: Column | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Group documents by content fingerprint; keep the min-id row as
    canonical.  Returns (fingerprint, canonical_id, group_size, *carry).

    ``carry`` columns come back as the CANONICAL row's values (they ride
    a ``min(struct(id, ...))`` behind the unique id, so they never affect
    which row wins).  Composites that need canonical-row attributes read
    them here instead of semi-joining back onto the input, which would
    re-evaluate the whole upstream a second time.
    """
    fp = fp if fp is not None else fingerprint(text_col)
    carry = carry or []
    if not carry:
        return (
            docs.select(F.col(id_col), fp.alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size"))
        )
    grouped = (
        docs.select(F.col(id_col), fp.alias("fp"), *[F.col(c) for c in carry])
        .groupBy("fp")
        .agg(
            F.min(F.struct(F.col(id_col).alias("cid"), *[F.col(c) for c in carry])).alias("w"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )
    return grouped.select(
        "fp",
        F.col("w.cid").alias("canonical_id"),
        "group_size",
        *[F.col(f"w.{c}").alias(c) for c in carry],
    )


def dedup_keep_canonical(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop non-canonical duplicates (semantics of the reference's
    unique-key insert A8, lifted to content identity)."""
    groups = exact_dedup(docs, text_col, id_col)
    return docs.join(
        groups.select(F.col("canonical_id").alias(id_col)), on=id_col, how="left_semi"
    )


def keep_best_in_group(
    docs: DataFrame,
    quality: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp: Column | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Quality-aware canonical selection: within each content-duplicate
    group keep the row with the highest ``quality`` (ties -> min id), not
    blindly the min id.  Real curation keeps the best-scoring copy of a
    duplicated document (longest, cleanest, best-source), so the survivor
    choice is a first-class knob.

    One shuffle on the fingerprint; the winner per group comes from a
    single ``min(struct(-quality, id))`` aggregate — map-side combinable,
    no window, no second pass.  ``carry`` columns ride the struct as
    payload (after the unique id, so they never influence the ordering)
    and come back as the WINNER's values — composites that need winner
    attributes (source, lengths) read them here instead of semi-joining
    back, which would re-evaluate the whole upstream a second time.
    Returns (fp, best_id, best_quality, group_size, *carry).
    """
    fp = fp if fp is not None else fingerprint(text_col)
    carry = carry or []
    ranked = docs.select(
        F.col(id_col),
        fp.alias("fp"),
        quality.alias("q"),
        *[F.col(c) for c in carry],
    )
    # min(struct(neg_q, id, payload...)) == (max quality, then min id):
    # one exact aggregate instead of a row_number window over the same
    # shuffle; id is unique so payload never affects the comparison
    best = ranked.groupBy("fp").agg(
        F.min(
            F.struct(
                (-F.col("q")).alias("nq"),
                F.col(id_col).alias("bid"),
                *[F.col(c).alias(c) for c in carry],
            )
        ).alias("w"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return best.select(
        "fp",
        F.col("w.bid").alias("best_id"),
        (-F.col("w.nq")).alias("best_quality"),
        "group_size",
        *[F.col(f"w.{c}").alias(c) for c in carry],
    )


def incremental_exact_dedup(
    new_batch: DataFrame,
    historical: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp: Column | None = None,
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus: drop
    new docs whose content fingerprint exists historically, then keep one
    (min-id) copy per fingerprint within the batch itself.

    This is the production shape of dedup — the corpus is never re-deduped
    from scratch; each ingest round anti-joins its (fp) set against the
    historical fingerprint index.  Both sides reduce to fingerprint rows
    BEFORE the anti-join, so the exchange carries |batch| + |history|
    hashes, not documents; at 100 TB the historical side is a pre-built
    fingerprint table read instead of a recompute.

    ``fp`` defaults to the raw-byte md5 — "exact" here means the bytes,
    not the token-set ``text.fingerprint`` (which would also swallow
    near-duplicate re-orderings; callers wanting that pass it in).
    Returns the surviving new rows (original columns).
    """
    fp = fp if fp is not None else F.md5(F.col(text_col).cast("binary"))
    hist_fp = historical.select(fp.alias("fp")).distinct()
    batch_fp = new_batch.select(F.col(id_col), fp.alias("fp"))
    fresh = batch_fp.join(hist_fp, on="fp", how="left_anti")
    keep_ids = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    # materialize the (batch-bounded) survivor-id set: the final
    # semi-join otherwise re-derives BOTH input lineages a second
    # time inside its own plan (measured 39 scan nodes on a 3-branch
    # union input; 3 after).  This is also the production artifact —
    # the ingest round's dedup decision set.
    keep_ids = pin(keep_ids)
    # no broadcast hint: survivors scale with the batch — AQE picks
    # broadcast when the materialized stats say it fits
    return new_batch.join(keep_ids, on=id_col, how="left_semi")


def _shingle_index(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Inverted index: (shingle, doc_id), distinct.  Tokenizes into a
    materialized column first so the split runs once per row, not once
    per shingle reference (see text.tokens PERF note)."""
    toksed = tokenized(docs, text_col, id_col)
    return (
        toksed.select(
            F.col(id_col).alias("did"),
            F.explode(shingles_of(F.col("toks"), n)).alias("sh"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (a < b, sim ≥ threshold).

    |A∩B| from the inverted-index self-join; |A|,|B| from per-doc distinct
    shingle counts; J = |A∩B| / (|A|+|B|-|A∩B|).

    ``df_cap`` is the scale gate: shingles appearing in more than
    ``df_cap`` documents are excluded from CANDIDATE GENERATION (a
    stop-shingle shared by 1M docs would otherwise make the self-join
    quadratic — 10^12 candidate rows from one key).  Jaccard for the
    surviving candidates is then recomputed over the FULL shingle sets
    (two bounded equi-joins keyed by the candidate list), so emitted
    values are exact; the only approximation is that a pair whose shared
    shingles are ALL above the cap is never considered — which at any
    real cap means the pair's similarity is carried entirely by
    stop-shingles.  ``df_cap=None`` keeps the fully exact all-shingle
    self-join for bounded subsets.
    """
    idx = pin(_shingle_index(docs, text_col, id_col, n))
    sizes = idx.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    if df_cap is None:
        a, b = idx.alias("a"), idx.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.did") < F.col("b.did")))
            .groupBy(F.col("a.did").alias("ida"), F.col("b.did").alias("idb"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        rare_sh = (
            idx.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("sh")
        )
        rare = idx.join(rare_sh, on="sh", how="left_semi")
        ra, rb = rare.alias("a"), rare.alias("b")
        cands = (
            ra.join(rb, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.did") < F.col("b.did")))
            .select(F.col("a.did").alias("ida"), F.col("b.did").alias("idb"))
            .distinct()
        )
        # exact |A∩B| for candidates only: expand each candidate pair by
        # a's shingles, then equi-join b's index on (idb, sh) — cost is
        # |candidates| × shingles-per-doc, never all-pairs
        ia = idx.select(F.col("did").alias("ida"), "sh")
        ib = idx.select(F.col("did").alias("idb"), "sh")
        common = (
            cands.join(ia, "ida")
            .join(ib, ["idb", "sh"])
            .groupBy("ida", "idb")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    sa = sizes.select(F.col("did").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("did").alias("idb"), F.col("sz").alias("szb"))
    out = (
        common.join(sa, "ida")
        .join(sb, "idb")
        .withColumn(
            "jaccard",
            bfround(F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ida", "idb", "jaccard")
    )
    return out


def minhash_signatures(
    docs: DataFrame,
    k: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Permutation i is simulated by md5(i || shingle); the signature element
    is the lexicographic min digest — one explode + one groupBy with k
    min() aggregates, no per-permutation passes.  Empty-shingle docs get
    NULL signature elements.
    """
    toksed = tokenized(docs, text_col, id_col)
    idx = toksed.select(F.col(id_col), F.explode(shingles_of(F.col("toks"), n)).alias("sh"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i) + "|"), F.col("sh")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return idx.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate pairs (a < b).

    Documents agreeing on ALL rows of at least one band collide in that
    band's bucket.  The band bucket key is md5(band-slice); the join is
    per-bucket, so cost tracks bucket occupancy, not n².
    """
    band_keys = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    # band keys materialize before the self-join: both sides would
    # otherwise re-derive the MinHash signatures (k md5 aggregations per
    # row) from the raw scan.  (did, band-md5 x bands) rows are ~100
    # bytes — this IS the LSH index table a production run persists.
    with_bands = pin(signatures.select(F.col(id_col).alias("did"), *band_keys))
    stacked = with_bands.select(
        "did",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    )
    a, b_ = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(b_, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.did") < F.col("b.did")))
        .select(F.col("a.did").alias("ida"), F.col("b.did").alias("idb"))
        .distinct()
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: sign → band → candidates →
    exact-Jaccard verify.  Returns verified pairs (ida < idb, jaccard).

    The verify stage computes exact Jaccard for CANDIDATE pairs only
    (expand each candidate by a's shingles, equi-join b's index — the
    same bounded recount ``ngram_jaccard_pairs`` uses under ``df_cap``).
    An earlier version joined candidates against the full all-pairs
    exact-Jaccard table, which re-introduced the quadratic shuffle the
    LSH gate exists to avoid.
    """
    sigs = minhash_signatures(docs, k, n, text_col, id_col)
    cands = lsh_candidate_pairs(sigs, bands, k // bands, id_col)
    idx = _shingle_index(docs, text_col, id_col, n)
    sizes = idx.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    ia = idx.select(F.col("did").alias("ida"), "sh")
    ib = idx.select(F.col("did").alias("idb"), "sh")
    common = (
        cands.join(ia, "ida")
        .join(ib, ["idb", "sh"])
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("did").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("did").alias("idb"), F.col("sz").alias("szb"))
    return (
        common.join(sa, "ida")
        .join(sb, "idb")
        .select(
            "ida",
            "idb",
            bfround(F.col("common")
                / (F.col("sza") + F.col("szb") - F.col("common")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_bits(text_col: Column | str, bits: int = 16, n_chars_per_tok: int = 1) -> Column:
    """SimHash signature as a bit-string column.

    Bit j's evidence is the high bit of hex digit j of each token's md5
    (deterministic and oracle-reproducible); the signature bit is the
    majority vote.  Returns e.g. '1011…' (length = bits ≤ 32).
    """
    from .text import tokens

    toks = F.array_distinct(tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)))
    digests = F.transform(toks, lambda t: F.md5(t))
    bit_chars = []
    for j in range(1, bits + 1):
        # +1 if hex digit j ∈ [8,f] else -1, summed over tokens
        vote = F.aggregate(
            digests,
            F.lit(0),
            lambda acc, d: acc
            + F.when(F.substring(d, j, 1).isin(*"89abcdef"), 1).otherwise(-1),
        )
        bit_chars.append(F.when(vote >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bit_chars)


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 4,
) -> DataFrame:
    """SimHash near-dups: pairs within ``max_hamming`` bit flips.

    Pairing is bucketed by the signature prefix (documents differing only
    in low bits still collide; a production variant unions several
    rotated prefixes — same plan shape).
    """
    sigs = docs.select(F.col(id_col).alias("did"), simhash_bits(text_col, bits).alias("sig"))
    # (did, sig) rows are tiny; materializing avoids re-running the
    # per-token majority-vote signature on both self-join sides
    with_bucket = pin(sigs.withColumn("bucket", F.substring("sig", 1, prefix_bits)))
    a, b = with_bucket.alias("a"), with_bucket.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("a.sig"), ""),
            F.split(F.col("b.sig"), ""),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.did") < F.col("b.did")))
        .select(
            F.col("a.did").alias("ida"),
            F.col("b.did").alias("idb"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def passage_dedup_stats(
    docs: DataFrame,
    passage_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup: split every document into fixed
    non-overlapping token passages, find passages repeated ANYWHERE in
    the corpus, and report per-document duplication.

    Whole-document dedup misses boilerplate (headers, licenses, quoted
    reposts) pasted into otherwise-unique documents; passage-granularity
    catches it.  "First occurrence" — the globally smallest
    ``(doc_id, passage_idx)`` holding the passage — is the canonical
    copy; every other occurrence counts as duplicated.

    Returns ``(id, n_passages, n_dup_passages, dup_frac)``.

    Scale: one explode (corpus tokens / passage_tokens rows), one
    groupBy on the 16-byte passage md5 carrying a min-struct +count
    (map-side combined), one equi-join back on the hash, one groupBy on
    doc id.  No windows over skewed keys, no driver collect; a
    megapopular passage (empty-ish boilerplate) is ONE agg row, not a
    join explosion.
    """
    from .text import chunk_tokens

    p = docs.select(
        F.col(id_col).alias("did"),
        F.explode(
            chunk_tokens(F.col(text_col), size=passage_tokens, overlap=0)
        ).alias("c"),
    ).select("did", F.col("c.chunk_idx").alias("pidx"), F.md5("c.chunk").alias("h"))
    firsts = p.groupBy("h").agg(
        F.min(F.struct("did", "pidx")).alias("first_occ"),
    )
    j = p.join(firsts, "h")
    is_dup = (F.col("first_occ.did") != F.col("did")) | (
        F.col("first_occ.pidx") != F.col("pidx")
    )
    return (
        j.groupBy("did")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(is_dup.cast("long")).alias("n_dup_passages"),
        )
        .select(
            F.col("did").alias(id_col),
            "n_passages",
            "n_dup_passages",
            bfround(F.col("n_dup_passages") / F.col("n_passages"), 6).alias("dup_frac"),
        )
    )


def drop_duplicate_passages(
    docs: DataFrame,
    passage_tokens: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each document keeping only passages whose canonical
    (first) occurrence it owns — the repair counterpart of
    ``passage_dedup_stats``.  Documents losing every passage drop out.

    Reassembly preserves passage order via sort_array over
    ``struct(pidx, chunk)`` (collect_list order is not guaranteed).
    """
    from .text import chunk_tokens

    p = docs.select(
        F.col(id_col).alias("did"),
        F.explode(
            chunk_tokens(F.col(text_col), size=passage_tokens, overlap=0)
        ).alias("c"),
    ).select("did", F.col("c.chunk_idx").alias("pidx"), F.col("c.chunk").alias("chunk"))
    firsts = (
        p.select("did", "pidx", F.md5("chunk").alias("h"))
        .groupBy("h")
        .agg(F.min(F.struct("did", "pidx")).alias("first_occ"))
    )
    kept = p.join(firsts, F.md5("chunk") == F.col("h")).filter(
        (F.col("first_occ.did") == F.col("did"))
        & (F.col("first_occ.pidx") == F.col("pidx"))
    )
    return (
        kept.groupBy("did")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pidx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept_passages"),
        )
        .withColumnRenamed("did", id_col)
    )


def boilerplate_filter(
    docs: DataFrame,
    min_docs: int = 3,
    passage_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate removal: passages occurring in at least
    ``min_docs`` DISTINCT documents are removed from EVERY document
    (including the first occurrence — unlike ``drop_duplicate_passages``,
    which keeps the canonical copy; boilerplate has no canonical copy
    worth keeping).

    Returns ``(id, n_passages, n_kept, text_clean)`` for documents that
    retain at least one passage; fully-boilerplate documents drop out.
    Reassembly preserves passage order (sort_array over (pidx, chunk)).

    Scale: one explode to (doc, pidx, passage) rows; distinct-doc counts
    per passage md5 aggregate with map-side combine (a megapopular
    passage is one agg row); only passages CROSSING the threshold —
    the boilerplate set, small by definition — come back, broadcast,
    for a mark-and-aggregate prune of the exploded stream.  The 100 TB
    scan's exchange carries (hash, count) pairs, never document text.

    r12 OPTIMIZATION (guide §2.4): the exploded passage stream used to
    be evaluated THREE times (hot-set aggregate, left_anti probe, and a
    separate per-doc totals aggregate joined back on).  The broadcast
    left_anti + totals join is now ONE left_outer broadcast mark + ONE
    per-doc aggregate: ``n_passages`` counts all rows, ``n_kept`` counts
    unmarked rows, and ``collect_list(when(keep, ...))`` skips nulls, so
    the kept-passage reassembly needs no second aggregate.  Tokenize
    passes 3 → 2, doc-key exchanges 3 (+ join) → 1 (sf0.1 in-session
    A/B: 1.91 s → 1.55 s, output match-verified row-for-row).
    """
    from .text import chunk_tokens

    p = docs.select(
        F.col(id_col).alias("did"),
        F.explode(
            chunk_tokens(F.col(text_col), size=passage_tokens, overlap=0)
        ).alias("c"),
    ).select("did", F.col("c.chunk_idx").alias("pidx"), F.col("c.chunk").alias("chunk"))
    hot = (
        p.select("did", F.md5("chunk").alias("h"))
        .groupBy("h")
        .agg(F.count_distinct("did").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    marked = p.join(F.broadcast(hot), F.md5("chunk") == F.col("h"), "left_outer")
    keep = F.col("h").isNull()
    return (
        marked.groupBy("did")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.count(F.when(keep, F.lit(1))).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pidx", "chunk")))
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_clean"),
        )
        .filter(F.col("n_kept") > 0)
        .select(
            F.col("did").alias(id_col), "n_passages", "n_kept", "text_clean"
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shingles: int = 5,
) -> DataFrame:
    """DIRECTIONAL near-dup detection: pairs where document a's shingle
    set is (almost) contained in document b's — containment
    |A∩B| / |A| ≥ threshold.  Catches what symmetric Jaccard misses:
    a short document pasted inside a much longer one scores near-zero
    Jaccard but containment 1.0 (quote inclusion, subset reposts,
    prompt-in-completion leaks).

    Same inverted-index shape as ``ngram_jaccard_pairs`` (the df-capped
    candidate-generation gate applies identically at scale); emitted
    both directions per unordered colliding pair, filtered by each
    side's own containment.  ``min_shingles`` drops trivially-small
    sets whose containment is noise.
    """
    idx = pin(_shingle_index(docs, text_col, id_col, n))
    sizes = idx.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    a, b = idx.alias("a"), idx.alias("b")
    # the candidate self-join is the expensive stage and the direction
    # union consumes its result twice — exchange reuse does not dedupe
    # the repeated subtree (round-6 scan census), so pin the
    # candidate-pair-sized table rather than run the join twice
    common = pin(
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.did") < F.col("b.did")))
        .groupBy(F.col("a.did").alias("da"), F.col("b.did").alias("db"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # both directions from the one unordered-common table
    directed = common.select(
        F.col("da").alias("ida"), F.col("db").alias("idb"), "common"
    ).unionByName(
        common.select(F.col("db").alias("ida"), F.col("da").alias("idb"), "common")
    )
    sa = sizes.select(F.col("did").alias("ida"), F.col("sz").alias("sz_a"))
    return (
        directed.join(sa, "ida")
        .filter(F.col("sz_a") >= min_shingles)
        .select(
            "ida",
            "idb",
            bfround(F.col("common") / F.col("sz_a"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard >= num/den pairs via PREFIX FILTERING (AllPairs /
    PPJoin family [Bayardo et al., WWW'07; Xiao et al., WWW'08]) — the
    third candidate-generation strategy next to the df-cap gate
    (`ngram_jaccard_pairs`) and MinHash LSH (`lsh_candidate_pairs`),
    and the only one of the three that is BOTH exact and sub-quadratic:

    * rank every shingle by ascending global document frequency (ties
      by shingle) — one small broadcastable dictionary;
    * per document, keep only the first ``sz - ceil(tau*sz) + 1``
      shingles in that order (the "prefix"); two sets with Jaccard >=
      tau MUST share a prefix shingle (if they shared none, their
      overlap is at most sz - p = ceil(tau*sz) - 1 < tau*|union|),
      so equi-joining prefixes loses no true pair;
    * prefixes are dominated by RARE shingles, so the candidate join
      fans out far less than the full index self-join; verification
      then recomputes exact Jaccard over full shingle sets, bounded by
      the candidate list exactly as in `ngram_jaccard_pairs`.

    The threshold is a rational (num/den) and the similarity gate is
    the integer cross-multiplication ``den*common >= num*union`` — no
    float ever decides membership.  Prefix length uses exact integer
    ceil ``(num*sz + den - 1) div den`` (a float ``ceil(0.8*35)``
    rounds to 29 on binary-float dust and would silently shrink
    recall).
    """
    idx = pin(_shingle_index(docs, text_col, id_col, n))
    sizes = idx.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    freq = idx.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    rank_w = Window.partitionBy("did").orderBy("df", "sh")
    prefix = pin(
        idx.join(freq, "sh")
        .withColumn("rnk", F.row_number().over(rank_w))
        .join(sizes, "did")
        .filter(
            F.col("rnk")
            <= F.col("sz")
            - F.expr(f"({threshold_num} * sz + {threshold_den} - 1) div {threshold_den}")
            + F.lit(1)
        )
        .select("did", "sh")
        # the prefix table is self-joined below: unpinned, the df-rank
        # window and its two joins run once per side (round-6 scan
        # census).  It is a small fraction of the index by design —
        # pin it instead of deriving it twice.
    )
    pa, pb = prefix.alias("a"), prefix.alias("b")
    cands = (
        pa.join(pb, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.did") < F.col("b.did")))
        .select(F.col("a.did").alias("ida"), F.col("b.did").alias("idb"))
        .distinct()
    )
    ia = idx.select(F.col("did").alias("ida"), "sh")
    ib = idx.select(F.col("did").alias("idb"), "sh")
    common = (
        cands.join(ia, "ida")
        .join(ib, ["idb", "sh"])
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("did").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("did").alias("idb"), F.col("sz").alias("szb"))
    union = F.col("sza") + F.col("szb") - F.col("common")
    return (
        common.join(sa, "ida")
        .join(sb, "idb")
        .filter(F.lit(threshold_den) * F.col("common") >= F.lit(threshold_num) * union)
        .select(
            "ida",
            "idb",
            bfround(F.col("common").cast("double") / union, 6).alias("jaccard"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    per-position k-gram hashes, then the min hash of every w-length
    hash window, distinct per doc -> ``(doc_id, fp)``.

    This is the SUBSTRING-level dup detector the set-based family
    (Jaccard/MinHash/SimHash) can't be: a paragraph pasted into an
    otherwise-different document shares a run of k-gram hashes, and
    winnowing guarantees at least one fingerprint per shared run
    longer than w + k - 1 tokens.  MOSS runs on exactly this scheme.

    Scale shape: everything through fingerprint selection is a
    projection (token array -> hash array -> window-min array ->
    explode distinct), no shuffle until the (doc_id, fp) groupBy.
    Hashes are 60-bit md5 prefixes so the DuckDB oracle reproduces
    them bit-for-bit (the q160 convention).
    """
    t = tokenized(docs, text_col=text_col, id_col=id_col)
    gram_idx = F.sequence(F.lit(1), F.size("toks") - (k - 1))
    hashes = F.when(
        F.size("toks") >= k,
        F.transform(
            gram_idx,
            lambda i: F.conv(
                F.substring(F.md5(F.array_join(F.slice(F.col("toks"), i, k), " ")), 1, 15),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    h = t.select(id_col, hashes.alias("h"))
    win_idx = F.sequence(F.lit(1), F.size("h") - (w - 1))
    fps = (
        F.when(
            F.size("h") >= w,
            F.array_distinct(
                F.transform(win_idx, lambda i: F.array_min(F.slice(F.col("h"), i, w)))
            ),
        )
        .when(F.size("h") > 0, F.array(F.array_min("h")))
        .otherwise(F.array().cast("array<long>"))
    )
    return h.select(id_col, F.explode(fps).alias("fp"))


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    max_doc_freq: int = 50,
    min_overlap_num: int = 1,
    min_overlap_den: int = 2,
) -> DataFrame:
    """Doc pairs sharing winnowed fingerprints: ``(doc_a, doc_b,
    shared_fps, overlap)`` where overlap = shared / min(|A|, |B|)
    (containment-style: a short doc fully pasted into a long one
    scores ~1.0 regardless of the length ratio).

    Fingerprints hitting more than ``max_doc_freq`` docs are dropped
    before pairing (boilerplate guard — the df-cap that keeps the
    self-join linear-ish, same discipline as ngram_jaccard_pairs);
    the overlap DENOMINATOR stays the pre-cap per-doc count so a
    boilerplate-heavy doc can't inflate its ratio by losing mass from
    both sides of the fraction.  Threshold is exact rational
    (num/den), applied before the one rounded output column.
    """
    fps = pin(winnow_fingerprints(docs, text_col, id_col, k=k, w=w))
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("nf"))
    keep = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_doc_freq
    )
    xs = fps.join(keep.select("fp"), "fp")
    xa = xs.select(F.col(id_col).alias("doc_a"), "fp")
    xb = xs.select(F.col(id_col).alias("doc_b"), "fp")
    shared = (
        xa.join(xb, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("nf").alias("na"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nf").alias("nb"))
    mn = F.least(F.col("na"), F.col("nb"))
    return (
        shared.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(F.lit(min_overlap_den) * F.col("shared_fps") >= F.lit(min_overlap_num) * mn)
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            bfround(F.col("shared_fps").cast("double") / mn, 6).alias("overlap"),
        )
    )
