"""Deterministic sampling for training pipelines.

``sample()``/``sampleBy()`` draw from an RNG seeded per partition —
resplitting changes membership, which poisons train/val hygiene.  These
operators derive membership from a content hash instead: a row's split
is a pure function of its key, stable across runs, partitionings,
engines, and table versions.  Both are scan-side projections — zero
shuffle at any scale — and oracle-reproducible (md5 on both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from lawfirm_data_pipeline_spark.functions.rounding import bfround

from ..pin import pin


def hash_bucket(key: Column | str, n_buckets: int = 100, salt: str = "") -> Column:
    """Stable bucket in [0, n_buckets): first 8 md5 hex digits mod n.

    32 bits of hash keeps the modulo bias < 1e-7 for any practical
    bucket count while staying exactly reproducible in ANSI SQL
    (DuckDB: ``from_hex``/``conv`` equivalents).
    """
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets


def hash_split(
    df: DataFrame,
    key: str,
    splits: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign each row to a named split by hash-bucket ranges.

    ``splits`` maps name -> fraction (must sum to ~1); e.g.
    ``{"train": 0.9, "val": 0.05, "test": 0.05}``.  Adds a ``split``
    column; membership is stable under any re-run or repartition.
    """
    total = sum(splits.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    bucket = hash_bucket(key, 10_000, salt)
    expr = None
    lo = 0.0
    for name, frac in splits.items():
        hi = lo + frac
        cond = bucket < int(round(hi * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn("split", expr.otherwise(list(splits)[-1]))


def stratified_hash_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy`` without the RNG):
    keep a row iff its hash bucket falls under the stratum's fraction.
    Strata absent from ``fractions`` are dropped (sampleBy semantics).
    """
    bucket = hash_bucket(key, 10_000, salt)
    keep = None
    for value, frac in fractions.items():
        cond = (F.col(stratum) == value) & (bucket < int(round(frac * 10_000)))
        keep = cond if keep is None else keep | cond
    return df.filter(keep if keep is not None else F.lit(False))


def temperature_mixture_weights(
    df: DataFrame,
    stratum: str,
    size_col: Column | str,
    alpha: float = 0.3,
    budget_tokens: int | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """Temperature-scaled mixture weights: stratum share ∝ size^alpha.

    The standard multilingual/multi-source rebalance (alpha-sampling):
    ``alpha=1`` keeps natural proportions, ``alpha=0`` is uniform, and
    values in between (0.3 is the common pick) lift the tail without
    drowning the head.  Returns per-stratum
    (stratum, size, weight, expected_tokens?) where ``weight`` is the
    normalized sampling probability, rounded to 6 decimals for
    cross-engine hash parity.

    All in-plan: one map-side-combined agg to per-stratum exact integer
    sizes (rows = #strata), one 1-row agg for the normalizer, one
    broadcast join back.  Nothing scales with |corpus| after the first
    agg.
    """
    size_c = F.col(size_col) if isinstance(size_col, str) else size_col
    aggs = [F.sum(size_c.cast("long")).alias("size")]
    if count_alias:
        # ride the same shuffle — composites otherwise re-aggregate the
        # (possibly expensive) upstream a second time just for a count
        aggs.append(F.count(F.lit(1)).alias(count_alias))
    per = df.groupBy(stratum).agg(*aggs)
    # snap size^alpha to nano fixed point BEFORE normalizing: the
    # normalizer is then an exact integer sum (order-independent, and a
    # last-ULP pow() difference between engines is absorbed by the snap)
    scaled = per.withColumn(
        "_pa_fp",
        bfround(F.pow(F.col("size").cast("double"), F.lit(alpha)) * 1e9).cast("long"),
    )
    # normalizer via a global window over the per-stratum AGGREGATE (a
    # |strata|-row frame — the single-partition exchange is trivially
    # small).  A separate .agg() + crossJoin would put the whole upstream
    # into the plan twice; inside composites (q97) that upstream is the
    # full tokenize+score+dedup chain, and the double-scan doubled the
    # query's cost.
    from pyspark.sql import Window

    keep = [stratum] + ([count_alias] if count_alias else []) + ["size"]
    out = scaled.withColumn("_z_fp", F.sum("_pa_fp").over(Window.partitionBy())).select(
        *keep,
        bfround(F.col("_pa_fp").cast("double") / F.col("_z_fp"), 6).alias("weight"),
    )
    if budget_tokens is not None:
        out = out.withColumn(
            "expected_tokens",
            bfround(F.col("weight") * F.lit(float(budget_tokens))).cast("long"),
        )
    return out


def mixture_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    size_col: Column | str,
    budget_frac: float,
    weights: dict[str, float] | None = None,
    salt: str = "",
) -> DataFrame:
    """Rebalance a corpus toward a target mixture under a token budget.

    Training-data mixing: given per-stratum target weights (``None`` =
    uniform over observed strata) and a total budget of
    ``budget_frac * total_size``, compute each stratum's keep fraction
    ``min(1, budget_share_s / size_s)`` and keep rows by deterministic
    hash threshold.  Over-represented strata are downsampled toward
    their target share; strata already below target keep everything
    (fraction clamps at 1 — this operator never upsamples; epoch-repeat
    for that).

    Fully in-plan — no driver round-trip: the per-stratum size table is
    one map-side-combined agg (rows = #strata), the corpus total is a
    1-row agg, and both join back as broadcasts.  The keep decision is
    the same md5-bucket threshold as ``stratified_hash_sample``, so
    membership is stable across runs, partitionings, and engines.
    """
    size_c = F.col(size_col) if isinstance(size_col, str) else size_col
    t = df.withColumn("_sz", size_c.cast("double"))
    per = t.groupBy(stratum).agg(F.sum("_sz").alias("_stratum_sz"))
    if weights is None:
        per = per.withColumn("_w", F.lit(1.0))
    else:
        w = None
        for value, wt in weights.items():
            w = (F.when(F.col(stratum) == value, float(wt)) if w is None
                 else w.when(F.col(stratum) == value, float(wt)))
        per = per.withColumn("_w", w.otherwise(F.lit(0.0)))
    tot = per.agg(
        F.sum("_stratum_sz").alias("_total_sz"), F.sum("_w").alias("_total_w")
    )
    frac = per.crossJoin(F.broadcast(tot)).select(
        stratum,
        F.least(
            F.lit(1.0),
            F.lit(budget_frac)
            * F.col("_total_sz")
            * (F.col("_w") / F.col("_total_w"))
            / F.col("_stratum_sz"),
        ).alias("_keep_frac"),
    )
    bucket = hash_bucket(key, 10_000, salt)
    return (
        t.join(F.broadcast(frac), stratum)
        .filter(bucket < F.col("_keep_frac") * 10_000)
        .drop("_sz", "_keep_frac")
    )


def weighted_reservoir_sample(
    df,
    k: int,
    key: Column | str,
    weight: Column | str,
    salt: str = "res",
):
    """Deterministic weighted sample WITHOUT replacement of exactly
    ``k`` rows (Efraimidis–Spirakis A-ES): each row draws a
    hash-uniform u ∈ (0, 1] from its key and is ranked by
    ln(u) / weight; the top-k ranks are the sample.

    Unlike fraction-based keeps (``weighted_hash_keep``) the output
    size is EXACT, and unlike ``df.sample`` the membership is a pure
    function of the key — stable across runs, partitionings, and
    engines, so an ANSI-SQL twin reproduces it row-for-row.

    Scale: ranking is one projection + a global sort-limit (Spark's
    TakeOrderedAndProject = per-partition top-k heads merged on the
    driver, k rows each — no full sort).  Weights must be > 0; the
    selection key rounds to 12 decimals with an id tie-break so the
    cut is deterministic on both engines.
    """
    kc = F.col(key) if isinstance(key, str) else key
    wc = F.col(weight) if isinstance(weight, str) else weight
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), kc.cast("string"))), 1, 8), 16, 10).cast(
        "long"
    )
    u = (h + 1).cast("double") / F.lit(4294967296.0)
    sel = bfround(F.log(u) / wc.cast("double"), 12)
    return (
        df.withColumn("sel_key", sel)
        .orderBy(F.col("sel_key").desc(), kc)
        .limit(k)
    )


def epoch_shuffle(
    df,
    epoch: int,
    n_shards: int = 8,
    key: Column | str = "doc_id",
):
    """Deterministic training-order generation for one epoch: every row
    gets a shard and an intra-shard position, both pure functions of
    (epoch, key) — re-running the job, changing partitioning, or
    re-reading the corpus cannot change the training order, and each
    epoch is an independent pseudo-random permutation.

    Shard = md5 bucket of the salted key (≈ equal-count by hash
    uniformity); position = rank of the hash WITHIN the shard.  The
    window partitions by shard, so ordering cost is per-shard, not
    global — at production n_shards is in the thousands and no single
    partition sorts the corpus (the global-orderBy formulation would
    funnel everything through one range exchange; this one never
    materializes a total order, which training doesn't need).

    Returns the input plus ``(shard, pos)``.
    """
    from pyspark.sql import Window

    kc = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(f"epoch{epoch}|"), kc.cast("string")))
    with_shard = df.withColumn("__h", h).withColumn(
        "shard", F.conv(F.substring("__h", 1, 8), 16, 10).cast("long") % n_shards
    )
    w = Window.partitionBy("shard").orderBy(F.col("__h"), kc)
    return with_shard.withColumn("pos", F.row_number().over(w)).drop("__h")


def hash_bucket_negatives(
    positives: DataFrame,
    items: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    n_buckets: int | None = None,
    k: int = 5,
    items_per_bucket: int = 20,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every user with a positive, pick the ``k`` smallest-md5 non-positive
    items from the user's hash bucket.

    The scale trick is the BUCKET EQUI-JOIN: items are bucketed by
    ``item % n_buckets`` and each user joins only bucket ``user %
    n_buckets`` — candidate generation is |users| x (|items| /
    n_buckets) via a plain shuffle join, never a users x items cross
    join.  ``n_buckets`` defaults to max(100, |items| / items_per_bucket)
    DERIVED IN-PLAN from the catalog size, so per-user candidate work is
    a CONSTANT ~items_per_bucket rows at any scale — a fixed bucket
    count makes candidates grow as |users| x |items| / const, i.e.
    quadratically (the round-5 sf1 spot-bench measured exactly that:
    10x data -> 60x runtime before this fix, ~linear after).  Positives
    are removed with an anti-join BEFORE ranking, so every emitted
    rank <= k is a true negative; md5(user:item) ordering makes the
    sample reproducible across runs, partitionings, and engines.
    """
    it_distinct = items.select(F.col(item_col)).distinct()
    if n_buckets is None:
        # r12 OPTIMIZATION (guide §2.4/§5): the distinct item catalog
        # feeds BOTH the in-plan bucket-count aggregate and the bucketed
        # candidate side — without pinning, the catalog distinct ran 3x
        # per query.  The pin is bounded by CATALOG size (|items| rows of
        # one key), never fact volume (sf0.1 in-session A/B: 1.81 s →
        # 1.46 s, match-verified).  The 1-row bucket count is a scalar
        # subquery read by both u and it.
        it_distinct = pin(it_distinct)
        nb = it_distinct.agg(
            F.greatest(
                F.lit(100),
                F.floor(F.count(F.lit(1)) / items_per_bucket),
            ).cast("long")
        ).scalar()
    else:
        nb = F.lit(n_buckets)
    u = positives.select(F.col(user_col)).distinct().withColumn("bkt", F.col(user_col) % nb)
    it = it_distinct.withColumn("bkt", F.col(item_col) % nb)
    cand = u.join(it, "bkt").drop("bkt")
    cand = cand.join(positives.select(user_col, item_col), [user_col, item_col], "left_anti")
    w = Window.partitionBy(user_col).orderBy(
        F.md5(F.concat_ws(":", F.col(user_col), F.col(item_col))), F.col(item_col)
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(user_col, item_col, "rnk")
    )
