"""Connected components over near-duplicate pair graphs.

Pair generators (`ngram_jaccard_pairs`, `lsh_candidate_pairs`,
`embedding_neardup_pairs`) emit edges; a dedup pipeline then needs the
transitive closure — "these 5 docs are all one document" — and a
canonical representative per group.  That is connected components, run
here as distributed min-label propagation:

* every node starts labeled with itself;
* each round, every node takes the min of its own label and its
  neighbors' labels (one equi-join + one groupBy-min);
* converged when the global label sum stops decreasing (labels only
  ever decrease, so an unchanged sum is a fixpoint — one cheap agg per
  round instead of a join-and-compare).

Scale shape: each round is one shuffle of the edge list plus one of the
label table; rounds needed = graph diameter.  Near-dup graphs are
near-cliques (diameter 2-3), so this settles in a handful of rounds at
any corpus size.  Lineage is truncated with a ``pin`` each
round — without it the plan doubles per iteration and the driver dies
long before 100 TB does.  (For adversarially long path graphs the
alternating small-star/large-star variant halves diameter per round;
not needed for dedup workloads.)

Reference parity: the reference has no graph operator — this is a
charter addition (SURVEY.md §2.C) completing its dedup story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..pin import pin


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "ida",
    id_b: str = "idb",
    node_col: str = "node",
    max_iters: int = 25,
) -> DataFrame:
    """Label every node with the min node id reachable from it.

    ``pairs`` is an undirected edge list (one row per pair, either
    orientation).  ``nodes`` optionally supplies the full node universe
    (so isolated nodes appear as singleton clusters); defaults to the
    pair endpoints.  Returns (node, cluster_id) — deterministic, so it
    hash-checks against a recursive-CTE oracle.
    """
    # materialize the edge list ONCE — pair generation is often the
    # expensive part (quadratic jaccard, LSH bucketing) and every
    # propagation round re-joins against it.  Both orientations come
    # from a single explode over one evaluation of the pair plan (a
    # self-union would run that plan twice).
    edges = pin(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )

    endpoints = edges.select(F.col("src").alias(node_col))
    if nodes is None:
        universe = endpoints.distinct()
    else:
        # endpoints folded in: they receive labels through propagation
        # either way (both edge orientations are present), so declaring
        # them up front preserves output while enabling the join-free
        # first round below
        universe = (
            nodes.select(F.col(nodes.columns[0]).alias(node_col))
            .unionByName(endpoints)
            .distinct()
        )

    labels = universe.withColumn("label", F.col(node_col))
    # the convergence check sums labels, so node ids must be numeric —
    # fail loudly here instead of a mid-iteration cast error (string
    # entities: map to a numeric surrogate first, e.g. min rowkey per
    # name as q231 does)
    if not isinstance(labels.schema["label"].dataType, NumericType):
        raise TypeError(
            "connected_components needs numeric node ids "
            f"(got {labels.schema['label'].dataType.simpleString()}); "
            "map string keys to a numeric surrogate first"
        )
    prev_sum = None
    for i in range(max_iters):
        if i == 0:
            # labels are the identity map on round 0: joining edges
            # against it is a per-round shuffle join that returns the
            # edge list itself — skip the join, propagate src directly
            prop = edges.select(F.col("dst").alias(node_col), F.col("src").alias("label"))
        else:
            prop = edges.join(
                labels, edges["src"] == labels[node_col]
            ).select(F.col("dst").alias(node_col), "label")
            # pointer jump (label-of-label): halves the remaining
            # propagation distance every round, so convergence is
            # O(log diameter) instead of O(diameter) — without it a
            # path longer than max_iters silently mislabeled its tail
            # (found by the round-6 CC property fuzz: 14 wrong labels
            # on a 40-node chain).  Deferred until round 4: near-dup /
            # ER graphs converge in 2-3 rounds and never pay the extra
            # join; a still-unconverged graph is the deep-path case the
            # jump exists for (coverage ≈ 3 + 2^(max_iters-4) hops).
            if i >= 3:
                l2 = labels.select(
                    F.col(node_col).alias("__n"), F.col("label").alias("__l")
                )
                jump = labels.join(l2, labels["label"] == l2["__n"]).select(
                    labels[node_col], F.col("__l").alias("label")
                )
                prop = prop.unionByName(jump)
        # the convergence agg is the action that materializes the
        # round's pin (no separate materialize job), and the pin keeps
        # the next round's plan one round deep.
        labels = pin(
            labels.unionByName(prop)
            .groupBy(node_col)
            .agg(F.min("label").alias("label"))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # with pointer jumping this needs diameter > 2^(max_iters-1);
        # reaching it means something is wrong — never return a
        # silently-partial labeling
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    return labels.select(F.col(node_col), F.col("label").alias("cluster_id"))


def neardup_cluster_summary(
    members: DataFrame, node_col: str = "node", cluster_col: str = "cluster_id"
) -> DataFrame:
    """Collapse a (node, cluster_id) assignment to per-cluster stats:
    canonical id (the min id, == cluster_id by construction), member
    count.  Map-side-combinable groupBy — trivial at any scale."""
    return members.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(node_col).alias("canonical_id"),
    )
