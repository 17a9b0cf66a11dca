"""M58 — TextRank keyword extraction (round 3 continuation).

q221 composes two proven pieces into the classic graph-based keyword
extractor (Mihalcea & Tarau 2004): the word co-occurrence graph
(adjacent-token pairs over the corpus, vocabulary-thresholded) feeds
the integer fixed-point PageRank (q128's operator, unchanged), and
the top-ranked words are the corpus keywords.  No new distributed
machinery — the point IS the composition: text ops emit an edge list,
graph ops consume it, and the integer fixed-point discipline keeps
the whole two-stage pipeline hash-matchable against the unrolled SQL
oracle.

Registered after m57 — outside round 3's 50-query window (round-4
rotation note in ``oracle/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..operators.graph_metrics import pagerank_fixed
from ..operators.ranking import top_k_ranked
from ..operators.text import tokenized
from ..queries import query

_MIN_COUNT = 25  # vocabulary threshold: words below this carry no edges
_TOPK = 20

_LTOKS = "list_filter(str_split_regex(trim(lower(text)), '\\s+'), t -> t != '')"

# word co-occurrence edges: consecutive-token pairs, both in vocab,
# canonical least/greatest orientation, distinct
_WORD_EDGES_SQL = f"""
    tok AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
    flat AS (SELECT doc_id, unnest(toks) AS w FROM tok),
    vocab AS (SELECT w FROM flat GROUP BY w HAVING count(*) >= {_MIN_COUNT}),
    bi AS (SELECT least(toks[i], toks[i + 1]) AS src,
                  greatest(toks[i], toks[i + 1]) AS dst
           FROM tok, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
           WHERE toks[i] != toks[i + 1]),
    edges AS (SELECT DISTINCT src, dst FROM bi
              WHERE src IN (SELECT w FROM vocab)
                AND dst IN (SELECT w FROM vocab)),
    und AS (SELECT src AS u, dst AS v FROM edges
            UNION ALL SELECT dst, src FROM edges)
"""

_PR_ITER = """
    {next} AS (SELECT p.u, p.d, p.base15,
                      CAST(p.base15 // 100 + (85 * COALESCE(c.s, 0)) // 100
                           AS BIGINT) AS r
               FROM {prev} p
               LEFT JOIN (SELECT und.v AS u, SUM({prev}.r // {prev}.d) AS s
                          FROM und JOIN {prev} ON {prev}.u = und.u
                          GROUP BY und.v) c ON c.u = p.u)
"""


# -- q221: TextRank keywords (word graph -> integer PageRank -> top-k)
@query(
    "q221_textrank_keywords",
    f"""
    WITH {_WORD_EDGES_SQL},
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         i0 AS (SELECT u, d, 1000000000000 // n AS r,
                       CAST(15 * (1000000000000 // n) AS BIGINT) AS base15
                FROM deg, nn),
         {_PR_ITER.format(prev="i0", next="i1")},
         {_PR_ITER.format(prev="i1", next="i2")},
         {_PR_ITER.format(prev="i2", next="i3")},
         ranked AS (SELECT u AS word, r AS rank_fp,
                           row_number() OVER (ORDER BY r DESC, u) AS rnk
                    FROM i3)
    SELECT word, rank_fp, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def q221_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pairs over the vocabulary (count >= 25) form the
    word graph; three synchronous integer fixed-point PageRank rounds
    (operators/graph_metrics.pagerank_fixed, the q128 engine) rank the
    words; top-20 with word tie-break are the corpus keywords.  Text
    stage is one explode + one threshold groupBy; graph stage inherits
    q128's plan shape unchanged — composition, not new machinery."""
    docs = load_table(spark, sf_dir, "documents")
    # tok feeds both the vocab aggregate (broadcast side) and the bigram
    # stream — unpinned the tokenize pass runs twice (guide §5).
    tok = pin(tokenized(docs))
    flat = tok.select(F.explode("toks").alias("w"))
    vocab = flat.groupBy("w").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") >= _MIN_COUNT
    ).select("w")
    idx = F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0)))
    bi = (
        tok.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.least(
                            F.element_at(F.col("toks"), i),
                            F.element_at(F.col("toks"), i + 1),
                        ).alias("src"),
                        F.greatest(
                            F.element_at(F.col("toks"), i),
                            F.element_at(F.col("toks"), i + 1),
                        ).alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    edges = (
        bi.join(F.broadcast(vocab.select(F.col("w").alias("src"))), "src")
        .join(F.broadcast(vocab.select(F.col("w").alias("dst"))), "dst")
        .select("src", "dst")
        .distinct()
    )
    pr = pagerank_fixed(edges, iters=3)
    return top_k_ranked(
        pr.select(F.col("node").alias("word"), "rank_fp"),
        _TOPK,
        [F.col("rank_fp").desc(), F.col("word")],
        "rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))
