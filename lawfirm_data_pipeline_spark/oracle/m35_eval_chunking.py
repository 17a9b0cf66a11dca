"""M35 — recommender evaluation, K-fold hygiene, content-defined
chunking (round 3, eighteenth wave).

q164 evaluates the co-purchase recommender offline: train pair counts
on 90% of baskets, recommend top-3 per part, score precision against
the held-out baskets — the eval-loop query of a recommendation
pipeline.  q165 audits stratified K-fold assignment balance.  q166 is
content-defined chunking (rolling md5 boundaries) — the
storage-dedup / incremental-sync chunker, where a one-character edit
shifts at most one chunk boundary instead of re-chunking the file.

Registered after m34 — outside round 3's 50-query window; round-4
rotation: m18+ register first (see m18's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.itemsets import MAX_BASKET
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q164: offline precision@3 of the co-purchase recommender
@query(
    "q164_rec_precision",
    f"""
    WITH items AS (SELECT ok, pk
                   FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
                   QUALIFY count(*) OVER (PARTITION BY ok) <= 4096),
         train AS (SELECT * FROM items WHERE ok % 10 != 0),
         test AS (SELECT * FROM items WHERE ok % 10 = 0),
         pairs AS (SELECT a.pk AS x, b.pk AS y, CAST(count(*) AS BIGINT) AS w
                   FROM train a JOIN train b ON a.ok = b.ok AND a.pk != b.pk
                   GROUP BY 1, 2),
         recs AS (SELECT x, y, w,
                         row_number() OVER (PARTITION BY x
                                            ORDER BY w DESC, y) AS rnk
                  FROM pairs),
         top3 AS (SELECT x, y FROM recs WHERE rnk <= 3),
         test_pairs AS (SELECT DISTINCT a.pk AS x, b.pk AS y
                        FROM test a JOIN test b ON a.ok = b.ok AND a.pk != b.pk),
         hits AS (SELECT top3.x, count(*) AS n_rec,
                         CAST(sum(CASE WHEN tp.y IS NULL THEN 0 ELSE 1 END)
                              AS BIGINT) AS n_hit
                  FROM top3 LEFT JOIN test_pairs tp
                    ON tp.x = top3.x AND tp.y = top3.y
                  GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_parts_scored,
           CAST(sum(n_rec) AS BIGINT) AS n_recommended,
           CAST(sum(n_hit) AS BIGINT) AS n_hits,
           {bfround_sql('CAST(sum(n_hit) AS DOUBLE) / CAST(sum(n_rec) AS DOUBLE)', 6)}
             AS precision_at_3
    FROM hits
    """,
)
def q164_rec_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split by basket hash, top-3 co-purchase
    recommendations per part (rank over the bounded per-part candidate
    list), precision scored against held-out co-occurrence — the
    offline eval a recommender ships with.  All counts exact integers;
    precision is one division.

    r12 OPTIMIZATION (guide §2.4): the split is BY BASKET, so ONE
    basket-pairs pass over all baskets with an ``is_test`` flag replaces
    the two separate basket_pairs pipelines (train + test) the before-
    plan ran — each with its own collect_set aggregate, explode and pair
    groupBy — and the train-side top-3 can carry ``in_test`` along,
    which deletes the top3 × test_pairs join outright.  The items-level
    mega-basket QUALIFY (itemsets.MAX_BASKET) is now the ``size(ps)``
    filter on the collected basket array — same predicate, zero extra
    window pass — and the single-consumer items table no longer needs a
    pin.  sf0.1 in-session A/B: 2.68 s → 2.31 s,
    match-verified; plan loses one ObjectHashAggregate leg, the
    broadcast hit-join and the window cap pass."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    # collect_set over the distinct stream == distinct items per basket,
    # so size(ps) <= MAX_BASKET IS the items-level QUALIFY of the SQL twin
    adj = (
        items.groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
        .filter(F.size("ps") <= MAX_BASKET)
    )
    flagged = adj.select(
        (F.col("ok") % 10 == 0).alias("is_test"),
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS x, y AS y))))"
            )
        ).alias("e"),
    )
    counts = flagged.groupBy(F.col("e.x").alias("x"), F.col("e.y").alias("y")).agg(
        F.sum(F.when(F.col("is_test"), 0).otherwise(1)).cast("long").alias("w"),
        F.max("is_test").alias("in_test"),
    )
    pairs = (
        counts.filter(F.col("w") > 0)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("x"), F.col("y").alias("y"), "w", "in_test"),
                    F.struct(F.col("y").alias("x"), F.col("x").alias("y"), "w", "in_test"),
                )
            ).alias("e")
        )
        .select("e.*")
    )
    w = Window.partitionBy("x").orderBy(F.desc("w"), "y")
    top3 = pairs.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    hits = top3.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n_rec"),
        F.sum(F.when(F.col("in_test"), 1).otherwise(0)).cast("long").alias("n_hit"),
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_scored"),
        F.sum("n_rec").cast("long").alias("n_recommended"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        bfround(F.sum("n_hit").cast("double") / F.sum("n_rec").cast("double"), 6).alias("precision_at_3"),
    )


# -- q165: stratified K-fold assignment balance audit
@query(
    "q165_kfold_balance",
    f"""
    WITH f AS (SELECT source,
                      ('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)),
                                         1, 8))::BIGINT % 5 AS fold,
                      CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1, 2),
         per AS (SELECT source, CAST(sum(n) AS BIGINT) AS total,
                        CAST(max(n) AS BIGINT) AS max_fold,
                        CAST(min(n) AS BIGINT) AS min_fold,
                        CAST(count(*) AS BIGINT) AS n_folds
                 FROM f GROUP BY 1)
    SELECT source, total, n_folds, max_fold, min_fold,
           {bfround_sql('CAST(max_fold AS DOUBLE) / CAST(min_fold AS DOUBLE)', 6)}
             AS balance_ratio
    FROM per
    """,
)
def q165_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-assigned 5-fold CV per source with a balance audit
    (max/min fold size) — the split-hygiene check before
    cross-validation; assignment is the md5-mod rule, stable across
    engines and re-runs."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
    )
    f = docs.groupBy("source", fold.alias("fold")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return f.groupBy("source").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_folds"),
        F.max("n").cast("long").alias("max_fold"),
        F.min("n").cast("long").alias("min_fold"),
        bfround(F.max("n").cast("double") / F.min("n").cast("double"), 6).alias(
            "balance_ratio"
        ),
    ).select("source", "total", "n_folds", "max_fold", "min_fold", "balance_ratio")


# -- q166: content-defined chunking (rolling-hash boundaries)
@query(
    "q166_cdc_chunking",
    f"""
    WITH t AS (SELECT doc_id, text, length(text) AS len
               FROM documents WHERE doc_id < 100),
         cuts AS (SELECT doc_id, len,
                         len(list_filter(generate_series(4, len),
                             i -> ('0x' || substring(md5(text[i-3:i]), 1, 8))::BIGINT
                                  % 64 = 0)) AS n_cuts
                  FROM t)
    SELECT doc_id, CAST(len AS BIGINT) AS n_chars,
           CAST(n_cuts + 1 AS BIGINT) AS n_chunks,
           {bfround_sql('CAST(len AS DOUBLE) / CAST(n_cuts + 1 AS DOUBLE)', 6)}
             AS avg_chunk_len
    FROM cuts
    """,
)
def q166_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk boundaries: cut wherever the md5 of the
    trailing 4-gram hits 0 mod 64 (expected chunk ~64 chars) — the
    rsync/LBFS chunker whose boundaries survive local edits, unlike
    fixed-width chunking.  Bounded to 100 docs: the per-character hash
    is the deliberate-cost exact form; at scale the same boundary rule
    runs as an Arrow kernel (the multimodal mapInPandas pattern)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = docs.select("doc_id", "text", F.length("text").alias("len"))
    # dynamic substring positions need the SQL expression form —
    # F.substring only takes literal pos/len
    n_cuts = F.expr(
        "size(filter(sequence(4, len), i ->"
        " cast(conv(substring(md5(substring(text, i - 3, 4)), 1, 8), 16, 10)"
        " as bigint) % 64 = 0))"
    )
    cuts = t.select("doc_id", "len", n_cuts.alias("n_cuts"))
    return cuts.select(
        "doc_id",
        F.col("len").cast("long").alias("n_chars"),
        (F.col("n_cuts") + 1).cast("long").alias("n_chunks"),
        bfround(F.col("len").cast("double") / (F.col("n_cuts") + 1).cast("double"), 6).alias("avg_chunk_len"),
    )
