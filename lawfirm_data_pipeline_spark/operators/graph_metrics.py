"""Whole-graph analytics over item co-occurrence graphs.

`graph.py` gives dedup its transitive closure; this module adds the
*metrics* side of graph processing — degree structure, triangle
counting, PageRank — over a graph derived from relational data (parts
that appear in the same order).  These are the classic "can your engine
do graphs without a graph engine" operators: each is expressed as plain
DataFrame joins/aggregations so Catalyst plans them like any other
query, and each uses the standard distributed-algorithm shape for its
problem:

* **edge building** is a per-key self-join (items grouped by order);
  the blow-up per order is C(items_per_order, 2), bounded by the
  order-size cap the schema implies (TPC-H ~7 lines/order), never a
  global cross join.
* **triangle counting** uses degree orientation (each undirected edge
  directed from its lower-(degree, id) endpoint): every wedge is
  enumerated at its unique minimum-degree apex, so a power-law hub with
  degree D costs O(D) oriented out-edges instead of O(D^2) wedges —
  the difference between hours and seconds on skewed graphs [Suri &
  Vassilvitskii, WWW'11 "Counting Triangles and the Curse of the Last
  Reducer"].
* **PageRank** runs a FIXED number of synchronous iterations in pure
  64-bit integer fixed point (pico-units): per-edge contributions are
  ``rank_fp div degree`` (integer division) and the damping multiply is
  ``(85 * sum) div 100`` — no float ever enters an aggregate, so the
  result is bit-identical regardless of partitioning, and hash-checks
  against an unrolled SQL oracle.  Each round's input is pinned, as in
  `graph.connected_components`, so plan depth stays one round.

Reference parity: the reference has no graph analytics — charter
addition alongside SURVEY.md §2.C's dedup-graph story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pin import pin

PAGERANK_SCALE = 10**12  # pico fixed point, matches the repo-wide discipline

# A |V|-row (long, long) table serializes at ~32 MB at this bound — safely
# inside executor/driver headroom.  Beyond it every graph routine drops its
# broadcast hint and lets the per-round join run as a co-partitioned
# shuffle join instead; the r3 verdict flagged the manual fallback (a
# comment saying "drop the hint") as a silent driver-OOM at 100x scale.
BROADCAST_MAX_NODES = 2_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int, cap: int | None) -> DataFrame:
    """Broadcast ``df`` only when its known row count fits the cap —
    the automatic small-|V| fast path / large-|V| shuffle fallback."""
    cap = BROADCAST_MAX_NODES if cap is None else cap
    return F.broadcast(df) if n_rows <= cap else df


# The GRAPH family's basket bound is TIGHTER than pair mining's
# (itemsets.MAX_BASKET = 4096): a basket becomes a CLIQUE in the
# co-purchase graph, and downstream graph algorithms are superlinear in
# clique size — triangle wedges ~ C(b, 3), BFS frontiers ~ b² — where
# rule mining only pays C(b, 2) in a streaming aggregate.  On the r11
# zipf-skew corpus the 4096 cap still left ~1e9 clique edges (the ~900
# mid-rank hot baskets), and the edge CHECKPOINT of q156's shared
# artifacts OOM-killed the JVM; at 256 the skew edge set is ~1e7 —
# checkpointable and wedge-feasible at any layout.  A 256-item basket
# is already not a co-purchase signal (it's a catalog crawl); all
# driver/sf/fresh corpora sit at ≤ ~60 items, so values are unchanged
# everywhere except the adversarial corpus.  SQL twins carry the
# matching QUALIFY (m25 edge builds, m32 q156).
GRAPH_MAX_BASKET = 256


def copurchase_edges(
    lineitem: DataFrame, min_weight: int = 1, max_basket: int = GRAPH_MAX_BASKET
) -> DataFrame:
    """Undirected co-purchase edge list: (src < dst, weight = number of
    orders containing both parts).

    Pairs come from per-basket sorted-array expansion
    (:func:`..itemsets.basket_pairs`): each order contributes
    C(distinct_parts, 2) pairs — bounded per key by order size — from
    ONE shuffle on the order key, and the pair groupBy that follows is
    map-side combinable.  ``min_weight`` prunes noise edges (scale
    knob: weight >= 2 drops ~95% of edges on uniform baskets);
    ``max_basket`` excludes clique-degenerate baskets (see
    :data:`GRAPH_MAX_BASKET`).
    """
    from .itemsets import basket_pairs

    items = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    edges = basket_pairs(items, max_basket=max_basket).select(
        F.col("x").alias("src"), F.col("y").alias("dst"), F.col("w").alias("weight")
    )
    if min_weight > 1:
        edges = edges.filter(F.col("weight") >= min_weight)
    return edges


def undirect(edges: DataFrame) -> DataFrame:
    """Both orientations of a canonical (src < dst) edge list, from ONE
    evaluation of the upstream plan (array-explode, not self-union —
    a union would run the edge build twice)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(degree, n_nodes) histogram of the undirected graph.

    Two map-side-combinable aggregations; output cardinality is the
    number of DISTINCT degrees (tiny at any scale).  The skew check a
    pipeline runs before choosing a triangle/join strategy.
    """
    deg = undirect(edges).groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    return (
        deg.select(F.col("d").alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


def triangle_counts(
    edges: DataFrame, *, broadcast_max_nodes: int | None = None
) -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles) for
    every node in at least one triangle.

    Degree-oriented wedge enumeration: orient each edge from its
    lower-(degree, id) endpoint, enumerate wedges at the apex (the
    unique min endpoint of each triangle), close them against the
    canonical edge set.  Work is sum(out_degree^2) with out-degrees
    capped near sqrt(|E|) — hub-proof.  Each triangle appears exactly
    once, then credits its three corners via a 3-way explode.
    """
    canon = pin(edges.select("src", "dst"))
    deg = pin(undirect(canon).groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")))
    n_nodes = deg.count()
    # orient: (u -> v) iff (d_u, u) < (d_v, v); the degree table is |V|
    # rows (graph-summary-sized — |V| << |E| whenever triangles exist),
    # so at small-to-medium |V| both endpoint joins broadcast it instead
    # of shuffling |E| twice; beyond BROADCAST_MAX_NODES they
    # automatically fall back to co-partitioned shuffle joins.
    du = _maybe_broadcast(
        deg.select(F.col("u").alias("src"), F.col("d").alias("ds")),
        n_nodes, broadcast_max_nodes,
    )
    dv = _maybe_broadcast(
        deg.select(F.col("u").alias("dst"), F.col("d").alias("dd")),
        n_nodes, broadcast_max_nodes,
    )
    withd = canon.join(du, "src").join(dv, "dst")
    oriented = withd.select(
        F.when(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
            F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
        )
        .otherwise(F.struct(F.col("dst").alias("u"), F.col("src").alias("v")))
        .alias("e")
    ).select("e.u", "e.v")
    # EDGE ITERATOR over per-apex adjacency arrays: collect each node's
    # oriented out-neighbors (bounded ~sqrt|E| by the orientation), join
    # the arrays onto both endpoints of every oriented edge, and close
    # triangles with an executor-side array_intersect — for edge (u, v)
    # the common out-neighbors N+(u) ∩ N+(v) are exactly the w's that
    # complete a triangle, each counted once at its unique apex edge.
    # The ~10x-|E| wedge stream of the previous formulation (wedge
    # explode + shuffle-hash closing join; 5.4-5.9 s in-sweep at sf0.1)
    # never materializes: the exchanges carry |E| rows + arrays, and the
    # quadratic work happens inside a codegen'd intersect.
    adj = oriented.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
    # r12 OPTIMIZATION (guide §2.4 "remove shuffles outright"): adj is
    # consumed TWICE below (exploded edge stream + closing-join build
    # side), and Spark evaluated the whole orient→collect_list pipeline
    # once per consumer — the before-plan shows two identical
    # ObjectHashAggregate legs, each with its own Exchange (plans/r12/
    # q127_triangle_count_before.txt).  One pin
    # materializes the |V|-row adjacency (payload |E| longs, bounded by
    # GRAPH_MAX_BASKET) so both consumers scan it: 4 Exchanges + twice-
    # built adjacency → 3 Exchanges + once-built (sf0.1 in-session A/B:
    # 2.30 s → 2.12 s steady-state, match-verified row-for-row).
    adj = pin(adj)
    # re-derive the edge stream from adj itself (explode carries each
    # apex's own array alongside), so closing needs ONE join — probe the
    # exploded edges against adj on the head endpoint.
    edges_with_nu = adj.select(
        "u", F.col("nbrs").alias("nu"), F.explode("nbrs").alias("v")
    )
    closed = (
        edges_with_nu.join(
            adj.select(
                F.col("u").alias("v"), F.col("nbrs").alias("nv")
            ).hint("shuffle_hash"),
            "v",
        )
        .select("u", "v", F.array_intersect("nu", "nv").alias("w"))
        .filter(F.size("w") > 0)
    )
    # per-triangle credits without re-evaluating the join: each closed
    # edge emits (u, |w|), (v, |w|) and (x, 1) for x in w from ONE
    # explode, then a combinable sum — same single-evaluation trick as
    # ``undirect``.
    t = F.size("w").cast("long")
    credits = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("u").alias("node"), t.alias("c")),
                    F.struct(F.col("v").alias("node"), t.alias("c")),
                ),
                F.expr("transform(w, x -> struct(x AS node, 1L AS c))"),
            )
        ).alias("e")
    )
    return (
        credits.groupBy(F.col("e.node").alias("node"))
        .agg(F.sum("e.c").cast("long").alias("n_triangles"))
    )


def pagerank_fixed(
    edges: DataFrame, iters: int = 3, *, broadcast_max_nodes: int | None = None
) -> DataFrame:
    """PageRank with damping 0.85 over the undirected graph, ``iters``
    synchronous rounds, 64-bit pico fixed point throughout.

    Returns (node, rank_fp BIGINT, rank DOUBLE).  Every aggregate is an
    integer sum of integer-division contributions, so the result is
    independent of partitioning and row order — the property that lets
    a distributed run hash-match a single-threaded SQL oracle, and the
    property floating-point PageRank never has.  Total rank mass is
    <= PAGERANK_SCALE, so 64-bit sums cannot overflow.

    Per round: one join (ranks onto edge sources) + one map-side-
    combinable groupBy sum — the minimal synchronous-PageRank shape.
    Node universe = edge endpoints (every node has degree >= 1;
    dangling mass does not arise on an undirected graph).

    |V| is established once (a bounded 1-row count, the only driver
    action) and picks the per-round join strategy: broadcast the
    |V|-row rank table when it fits ``BROADCAST_MAX_NODES``, else a
    co-partitioned shuffle join — the automatic fallback the r3 verdict
    asked for in place of the old unconditional hint.
    """
    und = pin(undirect(edges))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    n_nodes = deg.count()
    if n_nodes == 0:
        # empty graph (no edges survive upstream filters): the rank of
        # nothing is an EMPTY result, not a driver-side
        # ZeroDivisionError from PAGERANK_SCALE // 0 (found by the r10
        # q221 end-to-end mirror fuzz on an all-self-loop corpus).
        # Node dtype follows the (empty) degree table so callers with
        # string words and long ids both keep their schema.
        return deg.select(
            F.col("u").alias("node"),
            F.lit(None).cast("long").alias("rank_fp"),
            F.lit(None).cast("double").alias("rank"),
        )
    # unit and base terms are in-plan literals of the (already bounded)
    # node count — one integer reaches the driver, never a row set.
    unit = F.lit(PAGERANK_SCALE // n_nodes).cast("long")
    ranks = deg.select(
        "u", "d", unit.alias("r"), (F.lit(15) * unit).cast("long").alias("base15")
    )
    base = F.expr("base15 div 100")
    for _ in range(iters):
        # pin each round's |V|-row input: the round reads it TWICE
        # (contrib build + rank update), so an unpinned chain
        # re-evaluates early rounds 2^k times.  The returned plan keeps
        # the last round's joins visible.
        ranks = pin(ranks)
        # the rank table is |V| rows vs |E| edge rows — broadcast it so
        # each round costs one map-side join + one combinable sum, not
        # two exchanges; beyond BROADCAST_MAX_NODES the hint drops
        # automatically and the round runs as a shuffle equi-join.
        contrib = (
            und.join(
                _maybe_broadcast(
                    ranks.select("u", F.expr("r div d").alias("c")),
                    n_nodes, broadcast_max_nodes,
                ),
                "u",
            )
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = (
            ranks.select("u", "d", "base15")
            .join(contrib, "u", "left")
            .select(
                "u",
                "d",
                "base15",
                (base + F.expr("(85 * coalesce(s, 0L)) div 100")).cast("long").alias("r"),
            )
        )
    # no round(): x / 1e12 on an exactly-representable integer double is
    # IEEE-defined, so both engines produce bit-identical doubles; a
    # round() would only add a tie-handling divergence surface.
    return ranks.select(
        F.col("u").alias("node"),
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / F.lit(float(PAGERANK_SCALE))).alias("rank"),
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    *,
    broadcast_max_nodes: int | None = None,
) -> DataFrame:
    """Minimum hop distance from a seed set, bounded at ``max_hops``
    synchronous frontier expansions: each round joins the undirected
    edge list against the current distance table and keeps the min —
    the bounded-round BFS a reachability audit runs ("everything
    within 3 hops of a flagged node").

    Per round: one equi-join + one combinable groupBy-min, exactly the
    connected-components round shape (graph.connected_components) with
    distance instead of label; a fixed hop bound means a fixed plan
    depth — no convergence collect.  Returns (node, dist), dist 0 for
    seeds.

    The distance table grows toward |V| rows, so the per-round
    broadcast hint is applied only when |V| (established once, a
    bounded count) fits ``BROADCAST_MAX_NODES`` — beyond it the
    frontier join falls back to a shuffle equi-join automatically.
    """
    und = pin(undirect(edges))
    n_nodes = und.select("u").distinct().count()
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    for _ in range(max_hops):
        # pin the ≤|V|-row distance table: the round reads it twice
        # (frontier join + union), so an unpinned chain re-evaluates
        # early rounds 2^k times (same fix as pagerank_fixed's per-round
        # rank pin)
        dist = pin(dist)
        prop = und.join(
            _maybe_broadcast(dist, n_nodes, broadcast_max_nodes),
            und["u"] == dist["node"],
        ).select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionByName(prop)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    return dist
