"""Entity resolution: blocked fuzzy matching over name variants.

The reference normalizes and deduplicates scraped firm names before
hydration (SURVEY.md §2.A A12-A16 scalar kit); the scale version of
"are these two names the same entity" is a *blocked* similarity join:

* **dedupe the dictionary, not the rows** — aggregate to DISTINCT
  names first (carrying per-name row counts), so a 100 TB table with a
  bounded name vocabulary feeds the quadratic step |V| rows, not |T|;
* **block before comparing** — candidate pairs come from an equi-join
  on a cheap blocking key (here: the name's last token), never a cross
  join; the per-block cost is C(block_size, 2), and block sizes are
  auditable with `degree_histogram`-style counts before running;
* **edit distance is the verifier, not the generator** — levenshtein
  runs JVM-side (built-in, codegen'd) on the blocked candidates only.

The same three-stage shape (dictionary → block → verify) carries to
phonetic keys, q-gram blocks, or sorted-neighborhood windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pin import pin


def name_variant_pairs(
    df: DataFrame,
    name_col: str,
    block_key: Column,
    max_dist: int = 4,
) -> DataFrame:
    """Pairs of distinct name variants within a block whose edit
    distance is <= ``max_dist``, with per-variant row counts.

    ``block_key`` is evaluated against the distinct-name dictionary
    (column ``name``).  Output: (name_a, name_b, dist, n_a, n_b) with
    name_a < name_b.

    r13 OPTIMIZATION (guide §2.3/§2.4): two semantics-free cuts on the
    quadratic verify stage.  (1) A length prefilter — edit distance is
    bounded below by the length difference, so
    ``abs(len(a) - len(b)) > max_dist`` pairs can never survive the
    ``dist <= max_dist`` filter; rejecting them on two cheap length
    reads skips the levenshtein entirely.  (2) The surviving pairs use
    Spark's THRESHOLD-BOUNDED levenshtein (3-arg form, banded
    O(len x max_dist) instead of O(len x len); returns -1 past the
    bound, and the true distance otherwise — so ``dist >= 0`` is
    exactly the old ``dist <= max_dist`` and kept rows carry identical
    distances).
    """
    # the dictionary feeds both sides of the block join — unpinned, the
    # full-table distinct-name aggregate runs once per side (guide §5)
    names = pin(
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("blk", block_key)
    )
    a = names.select(
        F.col("blk"), F.col("name").alias("name_a"), F.col("n").alias("n_a")
    )
    b = names.select(
        F.col("blk"), F.col("name").alias("name_b"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        # edit distance >= |len(a) - len(b)|: reject impossible pairs
        # before running levenshtein at all
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= max_dist)
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b", max_dist).cast("long")
        )
        .filter(F.col("dist") >= 0)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )
