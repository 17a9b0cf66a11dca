"""M87 — round-5 wave 8: greedy subword tokenization, bucketed joins,
exact stratified splits.

q279 — WordPiece-style GREEDY LONGEST-MATCH tokenization: the apply
half of the tokenizer loop q147/q248 opened (BPE learns merges; a
serving tokenizer segments by longest vocab prefix at each position).
Sequential-looking, but the position walk is bounded by max word
length, so the engine unrolls it into 12 static joins over a
precomputed (word, pos) → longest-match table — every step a plain
equi-join over the distinct-word dictionary, no recursion, no UDF.
The oracle runs DuckDB's WITH RECURSIVE over the same match table:
two independent executions of the same derivation.

q280 — bucketed co-located join (operators/bucketing): the 100 TB
answer to "every FK join reshuffles the fact table".  Both sides are
written bucketed by the join key; the revenue join then runs WITHOUT
an Exchange on either side (plan-pinned in tests/test_bucketing.py)
and its cents total must equal the plain-SQL join.

q281 — deterministic stratified split with EXACT per-stratum
proportions: md5-rank within stratum, 80/10/10 by rank thresholds
computed from the stratum size (floor arithmetic) — reproducible
across runs/engines, never a Bernoulli approximation.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..queries import query
from ._shared import LTOKS_SQL as _LTOKS
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# 26 single letters guarantee termination; multi-char entries make the
# greedy choice nontrivial.
_VOCAB = (
    "the th he she her an and nd ing in ng ion on er re ed es st ti te "
    "at en to or ar al is it ou ll "
    "a b c d e f g h i j k l m n o p q r s t u v w x y z"
).split()
_MAXLEN = 12


def _vocab_sql() -> str:
    return " UNION ALL ".join(f"SELECT '{v}' AS v" for v in _VOCAB)


@query(
    "q279_greedy_wordpiece",
    f"""
    WITH RECURSIVE vocab AS ({_vocab_sql()}),
    words AS (
        SELECT DISTINCT w FROM (SELECT unnest({_LTOKS}) AS w FROM documents)
        WHERE regexp_full_match(w, '[a-z]{{1,{_MAXLEN}}}')
    ),
    pos AS (SELECT w, t.i FROM words,
            unnest(generate_series(1, length(w))) AS t(i)),
    matches AS (
        SELECT pos.w, pos.i, max(length(vocab.v)) AS ml
        FROM pos JOIN vocab
          ON substring(pos.w, pos.i, length(vocab.v)) = vocab.v
        GROUP BY pos.w, pos.i
    ),
    walk(w, p, n) AS (
        SELECT w, 1, 0 FROM words
        UNION ALL
        SELECT m.w, walk.p + m.ml, walk.n + 1
        FROM walk JOIN matches m ON m.w = walk.w AND m.i = walk.p
    )
    SELECT w AS word, CAST(n AS BIGINT) AS n_tokens
    FROM walk WHERE p = length(w) + 1
    """,
)
def q279_greedy_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match segmentation as ONE fold: precompute the
    longest vocab match per (word, position) in one explode + join +
    max, collect each word's per-position match lengths into a sorted
    array, then walk positions with a single JVM ``aggregate`` over a
    MAXLEN step sequence — p += ml[p] while p <= len, counting steps.
    Single-letter vocab entries guarantee the walk always advances, so
    MAXLEN steps always reach the end of a MAXLEN-bounded word.

    Replaces the previous MAXLEN-static-join unroll, whose ``done``
    union re-evaluated the match subtree in every branch (~78 join
    executions; 3.2 s in-sweep) with zero iterative joins: explode →
    broadcast vocab join → two combinable groupBys → codegen'd fold.
    """
    from ..operators.text import tokenized

    docs = load_table(spark, sf_dir, "documents")
    words = (
        tokenized(docs)
        .select(F.explode("toks").alias("w"))
        .filter(F.col("w").rlike(f"^[a-z]{{1,{_MAXLEN}}}$"))
        .distinct()
    )
    # JVM literal relation (not createDataFrame): avoids Python-backed
    # local-relation roundtrips on materialization.
    vocab = spark.sql(
        "SELECT explode(array("
        + ", ".join(f"'{v}'" for v in _VOCAB)
        + ")) AS v"
    )
    pos = words.select(
        "w", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
    )
    # ms[k] = longest vocab match length at position k (1-based via
    # array_sort on the (i, ml) struct; every position matches at least
    # its own single-letter entry, so the array is dense).
    ms = (
        pos.join(
            F.broadcast(vocab),
            F.expr("substring(w, i, length(v)) = v"),
        )
        .groupBy("w", "i")
        .agg(F.max(F.length("v")).alias("ml"))
        .groupBy("w")
        .agg(F.array_sort(F.collect_list(F.struct("i", "ml"))).alias("ms"))
    )
    walk = ms.select(
        "w",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(_MAXLEN)),
            F.struct(F.lit(1).alias("p"), F.lit(0).alias("n")),
            lambda acc, _: F.when(
                acc["p"] <= F.length("w"),
                F.struct(
                    (acc["p"] + F.try_element_at("ms", acc["p"])["ml"]).alias("p"),
                    (acc["n"] + 1).alias("n"),
                ),
            ).otherwise(acc),
        ).alias("st"),
    )
    return walk.filter(F.col("st.p") == F.length("w") + 1).select(
        F.col("w").alias("word"), F.col("st.n").cast("long").alias("n_tokens")
    )


@query(
    "q280_bucketed_join_revenue",
    f"""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST({bfround_sql('l.l_extendedprice * (1 - l.l_discount) * 100', 0)}
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY 1
    """,
)
def q280_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders + lineitem bucketed by the join key, join them
    shuffle-free (no Exchange on either side — the bucketed layout IS
    the shuffle, paid once at write), aggregate open-order revenue.
    The result must equal the plain join, proving bucket routing loses
    no rows (operators/bucketing.write_bucketed/bucketed_join).  Both
    tables are external, under this call's scratch dir, and are dropped
    before it is deleted."""
    from ..operators.bucketing import bucketed_join, write_bucketed

    with tempfile.TemporaryDirectory(prefix="q280_", ignore_cleanup_errors=True) as scratch:
        # the scratch dir's unique name doubles as the per-call table tag,
        # so concurrent sessions sharing a catalog never collide
        tag = os.path.basename(scratch)
        lt, rt = f"b_orders_{tag}", f"b_lineitem_{tag}"
        try:
            write_bucketed(
                load_table(spark, sf_dir, "orders")
                .filter(F.col("o_orderstatus") == "O")
                .select("o_orderkey", "o_orderpriority")
                .withColumnRenamed("o_orderkey", "k"),
                lt,
                "k",
                os.path.join(scratch, lt),
            )
            write_bucketed(
                load_table(spark, sf_dir, "lineitem").select(
                    F.col("l_orderkey").alias("k"),
                    bfround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                    .cast("long")
                    .alias("cents"),
                ),
                rt,
                "k",
                os.path.join(scratch, rt),
            )
            out = (
                bucketed_join(spark, lt, rt, on="k")
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_lines"),
                    F.sum("cents").cast("long").alias("revenue_cents"),
                )
            )
            rows = out.collect()
        finally:
            for t in (lt, rt):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
    return spark.createDataFrame(rows, out.schema)


@query(
    "q281_stratified_split",
    """
    WITH ranked AS (
        SELECT c_mktsegment AS stratum,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY md5('split:' || CAST(c_custkey AS VARCHAR)),
                            c_custkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    ),
    tagged AS (
        SELECT stratum,
               CASE WHEN rn <= CAST(floor(n * 0.8) AS BIGINT) THEN 'train'
                    WHEN rn <= CAST(floor(n * 0.8) AS BIGINT)
                             + CAST(floor(n * 0.1) AS BIGINT) THEN 'val'
                    ELSE 'test' END AS split
        FROM ranked
    )
    SELECT stratum, split, CAST(count(*) AS BIGINT) AS n
    FROM tagged GROUP BY 1, 2
    """,
)
def q281_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 per market segment with EXACT floor counts: membership
    is a pure function of (salt, key) via md5 rank within the stratum,
    so the split reproduces across engines, runs, and repartitionings —
    the property Bernoulli sampling can't give.  At 100 TB the only
    cost is one rank window per stratum (or a two-pass count+threshold
    variant if stratum skew makes single windows hot)."""
    cust = load_table(spark, sf_dir, "customer")
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.concat(F.lit("split:"), F.col("c_custkey").cast("string"))),
        "c_custkey",
    )
    ranked = cust.select(
        F.col("c_mktsegment").alias("stratum"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("c_mktsegment"))
        .alias("n"),
    )
    train_cut = F.floor(F.col("n") * 0.8)
    val_cut = train_cut + F.floor(F.col("n") * 0.1)
    tagged = ranked.select(
        "stratum",
        F.when(F.col("rn") <= train_cut, "train")
        .when(F.col("rn") <= val_cut, "val")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
