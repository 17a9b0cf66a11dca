"""Frequent-itemset association rules over transaction baskets.

Classic market-basket mining at warehouse scale: pair supports come
from the bounded per-basket self-join (same build as
`graph_metrics.copurchase_edges` — C(basket_size, 2) per key, never a
global cross join), item supports and the basket count are map-side
combinable aggregates, and the rule metrics are computed per pair from
exact integer counts:

    confidence(a -> b) = support(ab) / support(a)
    lift(a -> b)       = support(ab) * n_baskets / (support(a) * support(b))

Each is ONE float division (or one product then a division) of exact
64-bit integers — bit-identical across engines and partitionings.
A full Apriori/FP-Growth generalizes to k-itemsets; pairs (plus
`graph_metrics.triangle_counts` for 3-cliques of the pair graph) cover
the rule sizes a recommendation audit actually reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from lawfirm_data_pipeline_spark.functions.rounding import bfround
from ..pin import pin

# Baskets with more distinct items than this are EXCLUDED from pair
# mining — on every side of every oracle pair (the SQL twins carry the
# matching QUALIFY).  C(basket, 2) output is inherently infeasible for
# degenerate baskets no matter how it is partitioned (a 200k-item hot
# basket is 2e10 pairs — the r11 zipf-skew corpus killed the JVM on
# exactly this), and a 4096-item "basket" is not a transaction, it's a
# catalog.  C(4096, 2) ≈ 8.4M pairs ≈ tens of MB per task: inside any
# 100 TB executor budget.  All driver/sf/fresh corpora have baskets
# ≤ ~60 items, so the cap is value-invisible everywhere except the
# adversarial skew corpus it exists for.
MAX_BASKET = 4096


def basket_pairs(
    items: DataFrame,
    basket_col: str = "ok",
    item_col: str = "pk",
    max_basket: int = MAX_BASKET,
) -> DataFrame:
    """Canonical co-occurrence pairs ``(x < y, w = n shared baskets)``
    via per-basket sorted-array expansion: ONE shuffle (groupBy basket,
    collect_set), pair generation map-side with the triangle-count
    slice trick, then a combinable pair groupBy.

    Replaces the classic basket self-join (two exchange inputs + a join
    probe for the same output) — measured ~15% faster at sf0.1 and
    strictly fewer exchanges.  Per-basket work is C(basket, 2) either
    way; the SHUFFLE carries ``basket`` items where the join exchanged
    C(basket, 2) rows, so skew costs less network here.

    Memory bound (r6 ADVICE): the pair STRUCT ARRAY for one basket is
    materialized inside a single row before the explode, so a
    mega-basket's C(basket, 2) blowup lands in ONE task's memory where
    the self-join spread it across partitions — e.g. a 100k-item
    basket is ~5e9 structs in one task, an OOM.

    ``max_basket`` (r11, proven by the zipf-skew corpus where a hot
    orderkey carried 19% of lineitem and its C(~195k, 2) pair build
    killed the JVM at any layout): baskets above the cap are EXCLUDED
    from pair mining entirely — the OUTPUT is the infeasibility, not
    the plan, so capping loudly beats any salting scheme that would
    still emit 2e10 rows.  Every SQL oracle that mirrors this build
    carries the matching ``QUALIFY count(*) OVER (PARTITION BY basket)
    <= cap``; all non-adversarial corpora sit far below the cap, so
    values are unchanged there.
    """
    adj = items.groupBy(F.col(basket_col)).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("ps")
    )
    if max_basket is not None:
        adj = adj.filter(F.size("ps") <= max_basket)
    return (
        adj.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS x, y AS y))))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.x").alias("x"), F.col("e.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str = "ok",
    item_col: str = "pk",
    min_support: int = 3,
    max_basket: int = MAX_BASKET,
) -> DataFrame:
    """Directed rules (ante -> cons) for item pairs co-occurring in at
    least ``min_support`` baskets.  ``baskets`` is (basket, item),
    deduplicated by the caller or here (distinct is idempotent).

    Mega-baskets (> ``max_basket`` distinct items — see
    :data:`MAX_BASKET`) are excluded from the WHOLE mining universe —
    supports, basket count, and pairs — so confidence/lift stay
    internally consistent; the SQL twin applies the identical QUALIFY
    before any aggregate."""
    # materialized once: the per-basket sorted item ARRAYS feed all
    # three consumers (basket count, item supports via explode, pair
    # expansion) — Spark plans are trees, so without the checkpoint the
    # distinct+collect shuffle runs once per consumer (the round-3
    # self-join materialization lesson, BASELINE.md).
    #
    # r12 OPTIMIZATION (guide §2.4): the checkpoint used to hold the
    # row-per-item table with a WINDOW pass applying the mega-basket
    # QUALIFY, and basket_pairs then re-shuffled it BY BASKET to rebuild
    # the arrays.  Collecting the arrays first makes size(ps) the
    # QUALIFY (collect_set over the distinct stream == distinct count
    # per basket — no window sort), drops basket_pairs' second ok
    # exchange, and shrinks the checkpoint to |B| array rows (sf0.1
    # in-session A/B: 2.62 s → 2.03 s, match-verified).
    adj = (
        baskets.select(F.col(basket_col).alias("ok"), F.col(item_col).alias("pk"))
        .distinct()
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    )
    if max_basket is not None:
        adj = adj.filter(F.size("ps") <= max_basket)
    adj = pin(adj)
    n_baskets = adj.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    item_sup = (
        adj.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
    )
    pair_sup = (
        adj.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS x, y AS y))))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.x").alias("x"), F.col("e.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("sup_ab"))
        .filter(F.col("sup_ab") >= min_support)
    )
    # both rule directions from one evaluation of the pair plan
    directed = pair_sup.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("ante"), F.col("y").alias("cons"), "sup_ab"),
                F.struct(F.col("y").alias("ante"), F.col("x").alias("cons"), "sup_ab"),
            )
        ).alias("r")
    ).select("r.ante", "r.cons", "r.sup_ab")
    sa = item_sup.select(F.col("pk").alias("ante"), F.col("sup").alias("sup_a"))
    sb = item_sup.select(F.col("pk").alias("cons"), F.col("sup").alias("sup_b"))
    return (
        directed.join(sa, "ante")
        .join(sb, "cons")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "ante",
            "cons",
            F.col("sup_ab").alias("support"),
            bfround(F.col("sup_ab").cast("double") / F.col("sup_a").cast("double"), 6)
            .alias("confidence"),
            bfround((F.col("sup_ab") * F.col("nb")).cast("double")
                / (F.col("sup_a") * F.col("sup_b")).cast("double"), 6).alias("lift"),
        )
    )
