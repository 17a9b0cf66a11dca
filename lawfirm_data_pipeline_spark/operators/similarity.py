"""Similarity search over embedding columns (charter §2.C).

Two paths, same answer shape:

* **brute-force cosine top-k** — the correctness baseline.  Queries are
  broadcast (k rows), the corpus is scanned once, cosine is a JVM-side
  ``zip_with``/``aggregate`` expression (no Python per row), ranking is a
  per-query window.  At 100 TB the scan dominates; no shuffle of the
  corpus (broadcast join) and the window shuffles only (query_id, score,
  id) triples — |corpus| × |queries| rows, so bound |queries| or move to
  the bucketed path.
* **random-hyperplane LSH (sign-LSH) buckets** — the scale path: each
  vector maps to a b-bit bucket of dot-product signs against
  deterministic pseudo-random hyperplanes; candidate pairs/lookups join
  per-bucket.  Recall is tunable with more tables (union of bucketings);
  tested against brute-force recall in tests/test_llm_ops.py.

Vectors are cast to double before arithmetic so results are stable across
Arrow float32 readers, and accumulation is left-to-right (F.aggregate),
matching the DuckDB oracle's list_dot_product order.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at runtime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from lawfirm_data_pipeline_spark.functions.rounding import bfround

from ..pin import pin


def _dvec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    Returns (query_id, vec_id, score, rank), rank 1..k, ties broken by
    neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), _dvec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(F.col(id_col), _dvec(vec_col).alias("cv")).withColumn(
        "cn", norm(F.col("cv"))
    )
    # norms precomputed per side (map-side, once per vector) so the join
    # evaluates only the dot product per candidate pair — same doubles,
    # ~3x less lambda work than cosine() inside the join
    scored = (
        c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        .withColumn("score", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, bfround("score", 6).alias("score"), "rank")
    )


def ann_recall_gate(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    threshold: float,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """In-plan recall@k of an approximate ANN result vs its exhaustive
    twin, reduced to oracle-assertable columns (the q50 promotion
    pattern, r3 verdict #3): the oracle cannot reproduce the
    approximate neighbor set, but it CAN pin the contract — every query
    answered, k results each, mean recall@k over the query set above
    ``threshold``.

    Returns ONE row: (n_queries, min_n_results, recall_ok).  A query
    the approximate index drops entirely shrinks ``n_queries``; a
    short result list shows in ``min_n_results``; a recall regression
    flips ``recall_ok`` — each divergence is loud under a value hash.
    Mean recall (not per-query) is gated because per-query recall of a
    fixed deterministic index varies widely (measured 0.3-1.0 here)
    while the mean is stable across scales.
    """
    # ONE pass over approx: the old shape consumed it twice (an inner
    # hits join + a separate per-query count), so the whole approximate
    # pipeline — including its Arrow bucket-key UDFs — was evaluated
    # once per consumer (guide §2.4/§4.4: 4 ArrowEvalPython nodes in the
    # q38 plan, 2 sides x 2 evaluations).  (query, id) is unique on both
    # sides (rank-deduped top-k), so a left join against a hit marker
    # keeps multiplicity 1 and count(__hit) == the old inner-join count.
    a = approx.select(query_id_col, id_col)
    ex = exact.select(query_id_col, id_col).withColumn("__hit", F.lit(1))
    per_query = (
        a.join(ex, [query_id_col, id_col], "left")
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("n"), F.count("__hit").alias("hits"))
    )
    return per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.min("n").cast("long").alias("min_n_results"),
        (F.avg(F.col("hits") / F.lit(float(k))) >= threshold).alias("recall_ok"),
    )


def hyperplane_signs(vec: Column, planes: list[list[float]]) -> Column:
    """b-bit sign-LSH bucket key: '10110…' from dot-product signs.

    (Unrolling the ±1 dots into flat ``element_at`` sums was tried and is
    ~4x SLOWER: 36 planes × 64 dims yields expression trees large enough
    to blow past codegen method limits and fall back to interpretation.)
    """
    bits = []
    for plane in planes:
        p = F.array(*[F.lit(v) for v in plane])
        bits.append(F.when(dot(vec, p) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def deterministic_planes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """iid Rademacher (±1) hyperplanes from md5 bits (no RNG state;
    reproducible across runs/machines).

    TRAP (round-2 fix): the first version drew signs from the low bit of
    a power-of-two-modulus LCG — but that bit strictly alternates
    (period 2), so every plane was the SAME alternating ±1 vector up to
    global sign.  All tables collapsed into 2 buckets and the bucket
    join silently degenerated to all-pairs (measured: 718k candidate
    pairs from 600 vectors where honest planes give ~5k)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()[0] & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _bucket_keys_arrow(n_planes: int, n_tables: int, dim: int):
    """Arrow-vectorized bucket keys: one numpy matmul per batch replaces
    ``n_tables × n_planes`` interpreted per-row dot expressions.

    This is the "Pandas UDF where built-ins genuinely lose" case: the
    JVM path evaluates higher-order-function lambdas per element
    (~36×64 per row for the default index); here the whole Arrow batch
    does a single (rows×dim)@(dim×36) matmul.  Sign boundaries (dot
    exactly 0.0) could differ from the JVM path's left-to-right
    accumulation — irrelevant for ANN (measure recall, not buckets).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # reshape keeps n_planes=0 well-formed (dim×0 → constant bucket key
    # per table = exhaustive mode, used by the q38b correctness gate)
    mats = [
        np.array(deterministic_planes(dim, n_planes, seed=7 + 31 * t)).reshape(n_planes, dim).T
        for t in range(n_tables)
    ]
    planes = np.concatenate(mats, axis=1)  # dim x (tables*planes)

    @pandas_udf("array<string>")
    def keys(vecs: pd.Series) -> pd.Series:
        m = np.asarray(list(vecs), dtype=np.float64)  # rows x dim
        bits = (m @ planes >= 0).astype(np.uint8)  # rows x (tables*planes)
        out = []
        for row in bits:
            out.append(
                [
                    f"{t}:" + "".join("1" if b else "0" for b in row[t * n_planes : (t + 1) * n_planes])
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return keys


def _with_centered(
    df: DataFrame, vec_col: str, mean_df: DataFrame, out_col: str = "__vc"
) -> DataFrame:
    """Attach ``out_col`` = vec - mean.  ``mean_df`` is the 1-row
    :func:`_mean_vector` table, read as a scalar subquery (no join); it
    is projected before the subtraction because Spark rejects a
    subquery inside a higher-order function."""
    return (
        df.withColumn("__mean", mean_df.scalar())
        .withColumn(out_col, F.zip_with(F.col(vec_col), F.col("__mean"), lambda x, m: x - m))
        .drop("__mean")
    )


def _mean_vector(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-dimension mean as a 1-row (array) DataFrame.

    Sign-LSH buckets on RAW vectors assume data spread around the origin;
    real embedding corpora often live in a narrow cone (e.g. all-positive
    features), where every sign bit agrees and the whole corpus lands in
    a handful of buckets — the bucket join then degenerates toward
    all-pairs.  Centering costs one tiny aggregate + a 1-row broadcast
    and restores ~uniform occupancy on cone-shaped corpora (the driver's
    synthetic embeddings happen to be zero-mean already — the guard is
    for real feature distributions); similarity SCORES are still
    computed on the raw vectors — only the bucketing geometry shifts."""
    return df.agg(
        F.array(*[F.avg(F.element_at(F.col(vec_col), i + 1)) for i in range(dim)]).alias(
            "__mean"
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    arrow: bool = True,
) -> DataFrame:
    """Approximate top-k: union of ``n_tables`` sign-LSH bucketings, exact
    cosine re-rank inside the candidate set.

    Plan shape: corpus scanned ONCE; all tables' bucket keys computed in
    one projection (``arrow=True``, default: a single numpy matmul per
    Arrow batch — measured 4.5x over the JVM expression path at sf0.1;
    ``arrow=False`` keeps the pure-expression variant); equi-join on
    (table, bucket) replaces the all-pairs broadcast — at 1B vectors
    this is the difference between a scan and an n×q blow-up.  Recall
    grows with n_tables.
    """
    c = corpus.select(F.col(id_col), _dvec(vec_col).alias("cv")).withColumn(
        "cn", norm(F.col("cv"))
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), _dvec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))

    if arrow:
        _keys_udf = _bucket_keys_arrow(n_planes, n_tables, dim)

        def table_keys(vec: Column) -> Column:
            return _keys_udf(vec)

    else:

        def table_keys(vec: Column) -> Column:
            """(table_id || bucket) keys for all tables in ONE projection —
            the corpus is scanned once, not once per table."""
            keys = []
            for t in range(n_tables):
                planes = deterministic_planes(dim, n_planes, seed=7 + 31 * t)
                keys.append(F.concat(F.lit(f"{t}:"), hyperplane_signs(vec, planes)))
            return F.array(*keys)

    # center BOTH sides with the CORPUS mean (bucket geometry must match).
    # The 1-row mean has two consumers (cb, qb) and exchange reuse does
    # not dedupe repeated subtrees — unpinned it re-aggregates (and
    # re-scans) the corpus once per side (r7 rescans census: embeddings
    # ×10 in the q38 plan).
    mean = pin(_mean_vector(c, "cv", dim))
    cb = (
        _with_centered(c, "cv", mean)
        .withColumn("bucket", F.explode(table_keys(F.col("__vc"))))
        .drop("__vc")
    )
    qb = (
        _with_centered(q, "qv", mean)
        .withColumn("bucket", F.explode(table_keys(F.col("__vc"))))
        .drop("__vc")
    )
    # score BEFORE dedup: a multi-table duplicate pair recomputes a cheap
    # dot, but the dedup + rank shuffles move (id, id, score) scalars
    # instead of two 64-double vectors per candidate
    cands = (
        cb.join(F.broadcast(qb), on="bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("score", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .select(query_id_col, id_col, "score")
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, bfround("score", 6).alias("score"), "rank")
    )


def _nearest_centroids_arrow(centroids, nprobe: int):
    """Arrow-vectorized centroid assignment: one (rows×dim)@(dim×K)
    matmul per batch returns each vector's ``nprobe`` nearest centroid
    ids (by cosine, i.e. dot over normalized centroids)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cm = np.asarray(centroids, dtype=np.float64)  # K x dim
    cn = np.linalg.norm(cm, axis=1)
    cn[cn == 0] = 1.0
    cmat = (cm / cn[:, None]).T  # dim x K, unit columns

    @pandas_udf("array<int>")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.asarray(list(vecs), dtype=np.float64)  # rows x dim
        sims = m @ cmat  # rows x K (cosine up to the row norm — rank-invariant)
        # argsort descending, stable → deterministic tie-break by centroid id
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return nearest


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: seed centroids are the
    ``n_centroids`` vectors with smallest ``md5(id)`` (an unbiased,
    engine-reproducible sample), refined by ``iters`` distributed Lloyd
    steps (assign via one Arrow matmul; recenter via 64 JVM-side
    per-dimension avg aggregates — one small shuffle per iteration).

    Only the K×dim centroid matrix ever reaches the driver — the corpus
    itself is never collected, so the same code trains on 100 TB.
    """
    v = corpus.select(F.col(id_col).alias("vid"), _dvec(vec_col).alias("v"))
    seeds = (
        v.withColumn("h", F.md5(F.col("vid").cast("string")))
        .orderBy("h", "vid")
        .limit(n_centroids)
    )
    centroids = [row["v"] for row in seeds.select("v").collect()]
    for _ in range(iters):
        assign = _nearest_centroids_arrow(centroids, nprobe=1)
        assigned = v.withColumn("cluster", F.element_at(assign(F.col("v")), 1))
        means = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(F.element_at(F.col("v"), i + 1)).alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        by_cluster = {r["cluster"]: [r[f"d{i}"] for i in range(dim)] for r in means}
        # empty clusters keep their previous centroid
        centroids = [by_cluster.get(k, centroids[k]) for k in range(len(centroids))]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    lists and re-ranks candidates with exact cosine.

    Scale shape: the corpus is scanned once to tag each row with ONE
    cluster id (Arrow matmul), queries explode to ``nprobe`` rows and
    broadcast — the join is an equi-join on cluster, touching ~nprobe/K
    of the corpus per query instead of all of it.  Recall is tuned by
    ``nprobe`` (tested vs brute force in tests/test_ann_paths.py).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids=n_centroids, dim=dim, id_col=id_col, vec_col=vec_col
        )
    c = corpus.select(F.col(id_col), _dvec(vec_col).alias("cv")).withColumn(
        "cn", norm(F.col("cv"))
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), _dvec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))

    assign1 = _nearest_centroids_arrow(centroids, nprobe=1)
    cb = c.withColumn("cluster", F.element_at(assign1(F.col("cv")), 1))
    probe = _nearest_centroids_arrow(centroids, nprobe=nprobe)
    qb = q.withColumn("cluster", F.explode(probe(F.col("qv"))))

    cands = (
        cb.join(F.broadcast(qb), on="cluster")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("score", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .select(query_id_col, id_col, "score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, bfround("score", 6).alias("score"), "rank")
    )


def quantize_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/serving
    compression step of an embedding pipeline): scale = max|v|/127, each
    component maps to ``floor(v/scale + 0.5)`` ∈ [-127, 127].

    Rounding is spelled ``floor(x + 0.5)`` (round-half-toward-+inf) so
    both engines agree bit-for-bit at .5 boundaries; ``F.round`` /
    DuckDB ``round`` differ in half-value handling.

    Pure map stage — one Arrow-vectorized kernel per batch, no shuffle.
    The earlier all-JVM expression form was 10× slower: Catalyst's
    project-collapsing re-inlines the ``scale`` subexpression into every
    array-lambda element (≈ dim² ops/row for the error term, no CSE
    across higher-order functions); the numpy kernel computes the whole
    batch in five vectorized passes.  IEEE float64 arithmetic is
    identical either way, and the half-up rounding to 6dp happens
    JVM-side (``F.round``), so the DuckDB oracle still hash-matches.
    Returns per-vector audit columns (scale, quantized sum/min/max,
    max reconstruction error) — the quantized array itself stays an
    intermediate so the output is hash-stable scalar columns.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<scale:double,qsum:bigint,qmin:int,qmax:int,err:double>")
    def audit(vecs: pd.Series) -> pd.DataFrame:
        m = np.asarray(list(vecs), dtype=np.float64)  # rows x dim
        amax = np.abs(m).max(axis=1)
        scale = np.where(amax == 0.0, 1.0, amax / 127.0)
        q = np.floor(m / scale[:, None] + 0.5)
        err = np.abs(m - q * scale[:, None]).max(axis=1)
        return pd.DataFrame(
            {
                "scale": scale,
                "qsum": q.sum(axis=1).astype("int64"),
                "qmin": q.min(axis=1).astype("int32"),
                "qmax": q.max(axis=1).astype("int32"),
                "err": err,
            }
        )

    return vectors.select(F.col(id_col), audit(_dvec(vec_col)).alias("__a")).select(
        id_col,
        bfround("__a.scale", 6).alias("scale6"),
        F.col("__a.qsum").alias("qsum"),
        F.col("__a.qmin").alias("qmin"),
        F.col("__a.qmax").alias("qmax"),
        bfround("__a.err", 6).alias("max_err"),
    )


def lsh_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    target_occupancy: int | None = 64,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-LSH bucket gate → exact
    cosine verify.  THE registered/default variant — no full-table
    broadcast, no all-pairs.

    Plan shape: one corpus scan computes all tables' bucket keys (one
    Arrow matmul per batch), vectors explode to ``n_tables`` bucket rows,
    candidate pairs come from a same-bucket shuffled equi-join (cost
    tracks bucket occupancy, not n²), each candidate is verified with the
    exact cosine, and duplicates across tables dedup AFTER scoring so
    the dedup shuffle moves (ida, idb, score) scalars, not vectors.

    ADAPTIVE PLANES (r8, q225 slope isolation): with a FIXED plane
    count the expected bucket occupancy N/2^p grows linearly in corpus
    size, so candidate pairs grow ~n_tables·N²/2^p — quadratic at
    scale (the perturbed-replica sf1→sf3 measurement held ~3.1 even
    after verbatim-copy duplication was removed).  When
    ``target_occupancy`` is set (default 64), ``n_planes`` is raised to
    ceil(log2(N / target_occupancy)) so occupancy — and with it
    candidate pairs per vector — stays bounded as the corpus grows; at
    the shipped test scales (N ≤ ~600) this resolves to the historical
    8, so every correctness gate sees the identical plan.  Pass
    ``target_occupancy=None`` to pin ``n_planes`` exactly.

    High-threshold pairs are nearly parallel, so the per-table collision
    probability (1 - θ/π)^n_planes is high and the miss probability
    decays exponentially in ``n_tables``.  RECALL BUDGET (r9, found by
    the sf1 value differential): the planted near-dup population
    bottoms out at cos≈0.981 (θ≈0.195 rad), where a single 8-plane
    table hits with p≈0.60 — at the former 8-table default the
    per-pair miss was 0.40^8 ≈ 6.7e-4, which at sf1's ~1000 planted
    pairs means ~0.7 EXPECTED misses per corpus (and the differential
    caught exactly one, pair 40001440↔40101440).  The 16-table default
    puts the per-pair miss at 0.40^16 ≈ 4.3e-7 (~1e-3 expected misses
    at sf3's ~3000 pairs); as adaptive planes grow with the corpus the
    per-table hit rate falls (9 planes → 0.56), so ``n_tables`` should
    scale roughly with ``n_planes`` to hold the budget — pass it
    explicitly on corpora past the verified scales.  The exact
    all-pairs variant below remains for bounded subsets."""
    import math

    v = vectors.select(F.col(id_col).alias("vid"), _dvec(vec_col).alias("v")).withColumn(
        "n", norm(F.col("v"))
    )
    if target_occupancy:
        # r8 ADVICE: size the plane count from a count over the RAW
        # input, not `v` — counting `v` re-ran the _dvec parse + norm
        # projection (a full extra pass) before the pin
        # that exists precisely to avoid recomputing it; a bare count
        # lets Catalyst prune every column and read parquet row counts.
        n_rows = vectors.count()
        if n_rows > target_occupancy:
            n_planes = max(
                n_planes, min(20, math.ceil(math.log2(n_rows / target_occupancy)))
            )
    keys = _bucket_keys_arrow(n_planes, n_tables, dim)
    # materialize the keyed index ONCE before the self-join: Spark plans
    # are trees, so both join sides would otherwise re-run the centering
    # aggregate + Arrow matmul from the raw scan (measured 2x the key
    # computation on every call).  Production writes this index table
    # anyway; keys ride pre-explode so the pin stores one row per
    # vector, not per (vector, table).
    v_keyed = pin(
        _with_centered(v, "v", _mean_vector(v, "v", dim))
        .withColumn("buckets", keys(F.col("__vc")))
        .drop("__vc")
    )
    vb = v_keyed.withColumn("bucket", F.explode("buckets")).drop("buckets")
    a, b = vb.alias("a"), vb.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") < F.col("b.vid")))
        .withColumn("score", dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")))
        .filter(F.col("score") >= threshold)
        .select(
            F.col("a.vid").alias("ida"),
            F.col("b.vid").alias("idb"),
            bfround("score", 6).alias("score"),
        )
        .dropDuplicates(["ida", "idb"])
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine near-duplicate pairs (a < b, score ≥ threshold) — exact
    all-pairs BNLJ for BOUNDED SUBSETS ONLY (broadcasts the right side).
    The scale/default path is ``lsh_neardup_pairs`` above."""
    v = vectors.select(F.col(id_col).alias("vid"), _dvec(vec_col).alias("v")).withColumn(
        "n", norm(F.col("v"))
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        # bounded-subset operator: broadcast the right side so the
        # inequality join is BNLJ, never a shuffled CartesianProduct
        a.join(F.broadcast(b), F.col("a.vid") < F.col("b.vid"))
        .withColumn("score", dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")))
        .filter(F.col("score") >= threshold)
        .select(
            F.col("a.vid").alias("ida"),
            F.col("b.vid").alias("idb"),
            bfround("score", 6).alias("score"),
        )
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid of an embedding column, emitted LONG-form —
    one (label, pos, n, centroid) row per dimension.

    Long form keeps cells scalar (array-valued outputs crash the driver
    canonicalizer) and is the shape downstream k-means / class-prototype
    consumers join on anyway.  Elements snap to nano fixed point before
    the sum, so the aggregation is exact-integer and the centroid is
    bit-identical at any parallelism — `avg(double)` would drift with
    partitioning.  Negative zero is normalized to +0.0: a tiny negative
    exact sum (e.g. s = -4 nano-units over 5460 rows) rounds to zero
    whose SIGN differs across engines (the r9 sf3 differential caught
    DuckDB emitting -0.0 where Spark emits 0.0); sign-of-zero is noise,
    not value.  Plan: one posexplode + one map-side-combinable
    groupBy on (label, pos); |labels| x dim result rows.
    """
    ex = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "x"),
    )
    fixed = ex.select(
        "label",
        "pos",
        bfround(F.col("x").cast("double") * 1e9).cast("long").alias("x_fp"),
    )
    # r10 q227-class audit: Σ|x_fp| ≤ N·1e9·|x| per (label, pos) —
    # past 2^63 around 1e9 rows/label at unit norm; d29 sum is exact
    # and the one final cast to double is unchanged
    agg = fixed.groupBy("label", "pos").agg(
        F.sum(F.col("x_fp").cast("decimal(19,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cen = bfround(F.col("s").cast("double") / 1e9 / F.col("n"), 6)
    return agg.select(
        "label",
        "pos",
        "n",
        F.when(cen == 0.0, F.lit(0.0)).otherwise(cen).alias("centroid"),
    )


def embedding_covariance(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact corpus covariance matrix of the embedding column, long-form
    upper triangle: one ``(i, j, n, cov)`` row per dimension pair
    (i <= j) — the input every PCA / whitening / Mahalanobis consumer
    needs, computed without ever collecting vectors to the driver.

    The heavy part, sum(x_i * x_j) over all rows, runs as an Arrow
    ``mapInPandas`` kernel: each partition quantizes its vectors to
    micro fixed point (round-half-away, matching SQL ROUND) and emits
    ONE d x d int64 Gram matrix via a single BLAS matmul — dim*(dim+1)/2
    rows leave the executor regardless of row count.  Partials then
    hash-aggregate (exact integer sums).  Dimension means come from a
    JVM posexplode aggregate (same exact-int discipline as
    ``label_centroids``).  Final covariance = E[xy] - E[x]E[y] evaluated
    once per pair from exact sums, so the result is bit-stable at any
    parallelism and reproducible in ANSI SQL.

    Scale: partials are O(d^2) per partition (independent of rows);
    the mean aggregate shuffles d rows per map task.  At 100 TB the
    exchange carries a few thousand integers per task, nothing else.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    iu = np.triu_indices(dim)
    part_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("j", T.IntegerType(), False),
            T.StructField("s_xy", T.DecimalType(38, 0), False),
        ]
    )

    def gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # r10 q227-class audit: numpy int64 matmul WRAPS SILENTLY on
        # overflow (no ANSI raise) — a partition of R rows with
        # components up to |q| can reach R·q² per Gram cell, past 2^63
        # for large-magnitude embeddings or fat partitions.  Each
        # batch is therefore matmul'd in int64 only in row-chunks
        # provably under 2^62 (chunk_rows · max|q|² bound), and chunk
        # results accumulate into an arbitrary-precision Python-int
        # matrix, emitted as DECIMAL(38,0) partials.
        from decimal import Decimal

        acc = np.zeros((dim, dim), dtype=object)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * 1e6
            # the quantization itself must not wrap: float64 → int64
            # astype is silent-wrapping in numpy for |m| ≥ 2^63.  A
            # micro-fp component that large (|x| ≥ 9.2e12) is not an
            # embedding — raise loudly rather than emit garbage.
            mabs = float(np.abs(m).max(initial=0.0))
            if mabs >= float(1 << 62):
                raise ValueError(
                    "embedding_covariance: component magnitude "
                    f"{mabs / 1e6:.3e} exceeds the micro fixed-point "
                    "int64 domain"
                )
            q = (np.sign(m) * np.floor(np.abs(m) + 0.5)).astype(np.int64)
            maxq = int(np.abs(q).max(initial=0))
            if maxq and maxq * maxq >= (1 << 62):
                # even a single-row outer product would wrap int64:
                # fall back to exact object-dtype matmul for the batch
                acc += q.astype(object).T @ q.astype(object)
            else:
                chunk = len(q) if maxq == 0 else max(1, (1 << 62) // (maxq * maxq))
                for lo in range(0, len(q), chunk):
                    qc = q[lo : lo + chunk]
                    acc += (qc.T @ qc).astype(object)
            seen = True
        if seen:
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "s_xy": [Decimal(int(v)) for v in acc[iu]],
                }
            )

    partials = embeddings.select(vec_col).mapInPandas(gram, part_schema)
    # decimal(38,0) sum: exact, loud ANSI raise past 1e38 — the former
    # long sum raised at 9.2e18, ~4e6 rows of unit-norm micro-fp
    # vectors per dimension pair at worst-case correlation
    sxy = partials.groupBy("i", "j").agg(F.sum("s_xy").alias("s_xy"))

    means = (
        embeddings.select(F.posexplode(vec_col).alias("pos", "x"))
        .select(
            "pos",
            # decimal, not long: a component past the micro fixed-point
            # int64 domain must fail in gram()'s own check, not race it
            # with a CAST_OVERFLOW from this branch.  The sum stays exact
            # and the final cast to double rounds once.
            bfround(F.col("x").cast("double") * 1e6).cast("decimal(38,0)").alias("x_fp"),
        )
        .groupBy("pos")
        .agg(F.sum("x_fp").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    mi = means.select(
        F.col("pos").alias("i"), F.col("s").alias("s_i"), F.col("n").alias("n")
    )
    mj = means.select(F.col("pos").alias("j"), F.col("s").alias("s_j"))
    return (
        sxy.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            "n",
            # + 0.0 collapses IEEE -0.0 to +0.0 (DuckDB's round keeps the
            # sign; the driver hashes the rendered string, so -0.0 != 0.0)
            (
                bfround(F.col("s_xy").cast("double") / F.lit(1e12) / F.col("n")
                    - (F.col("s_i").cast("double") / F.lit(1e6) / F.col("n"))
                    * (F.col("s_j").cast("double") / F.lit(1e6) / F.col("n")), 6)
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def rrf_fusion(
    corpus: DataFrame,
    queries: DataFrame,
    k_candidates: int = 100,
    k_out: int = 10,
    rrf_k: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers (cosine and raw inner
    product) over the same corpus: score = sum over lists of
    1/(rrf_k + rank), contributions only from each retriever's
    top-``k_candidates`` [Cormack et al., SIGIR'09].

    The production shape: each retriever hands over a BOUNDED top-K
    candidate list (here both ranks come from one scored pass over the
    broadcast-join corpus scan — two rank windows share the query_id
    partitioning), fusion touches only the union of those lists, and
    the final top-``k_out`` is a per-query window over <= 2K rows.
    RRF scores are sums of 1/(60+r) for SMALL INTEGER ranks — both
    engines compute identical doubles, so the fused ranking is
    hash-stable, unlike fusing raw float scores.
    """
    c = corpus.select(F.col(id_col), _dvec(vec_col).alias("v"))
    q = queries.select(
        F.col(id_col).alias(query_id_col), _dvec(vec_col).alias("qv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            cosine(F.col("qv"), F.col("v")).alias("cs"),
            dot(F.col("qv"), F.col("v")).alias("ip"),
        )
    )
    wc = Window.partitionBy(query_id_col).orderBy(F.desc("cs"), F.col(id_col))
    wi = Window.partitionBy(query_id_col).orderBy(F.desc("ip"), F.col(id_col))
    ranked = scored.select(
        query_id_col,
        id_col,
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wi).alias("ri"),
    ).filter((F.col("rc") <= k_candidates) | (F.col("ri") <= k_candidates))
    rrf = (
        F.when(F.col("rc") <= k_candidates, F.lit(1.0) / (F.lit(rrf_k) + F.col("rc"))).otherwise(F.lit(0.0))
        + F.when(F.col("ri") <= k_candidates, F.lit(1.0) / (F.lit(rrf_k) + F.col("ri"))).otherwise(F.lit(0.0))
    )
    fused = ranked.withColumn("rrf_raw", rrf)
    wf = Window.partitionBy(query_id_col).orderBy(F.desc("rrf_raw"), F.col(id_col))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= k_out)
        .select(
            query_id_col,
            id_col,
            bfround(F.col("rrf_raw"), 6).alias("rrf"),
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
    )


def semantic_dedup_policy(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    target_occupancy: int | None = 64,
) -> DataFrame:
    """SemDeDup-style keep/drop policy over an embedding corpus
    [Abbas et al., 2023, arXiv:2303.09540]: bucket semantically with
    sign-LSH (the scale stand-in for their k-means step — deterministic
    and oracle-expressible), verify candidates with exact cosine, and
    DROP every vector that has a lower-id near-duplicate (keep-lowest
    is the deterministic representative rule).

    Returns one row per input vector: (id, kept BOOLEAN, n_lower_dups)
    — the curation decision table a training pipeline joins against
    its corpus, not just the pair list (:func:`lsh_neardup_pairs` is
    the underlying pair generator and carries the scale argument).
    """
    pairs = lsh_neardup_pairs(
        vectors,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        target_occupancy=target_occupancy,
    )
    drops = pairs.groupBy(F.col("idb").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_lower_dups")
    )
    return (
        vectors.select(id_col)
        .join(drops, id_col, "left")
        .select(
            id_col,
            F.col("n_lower_dups").isNull().alias("kept"),
            F.coalesce("n_lower_dups", F.lit(0).cast("long")).alias("n_lower_dups"),
        )
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k highest-cosine vectors with a DIFFERENT label — the negatives
    closest to the decision boundary, which carry most of the gradient
    signal [e.g. Robinson et al., ICLR'21 hard-negative sampling].

    Same broadcast-query / corpus-scan / per-query-window shape as
    :func:`brute_force_topk`; the label-mismatch predicate rides the
    join condition so same-label rows never reach scoring.  At corpus
    scale the candidate generator swaps to the LSH/IVF bucketed paths
    exactly as for positives — mining is just top-k under a filter.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(label_col).alias("qlabel"),
        _dvec(vec_col).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col), F.col(label_col), _dvec(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = c.join(F.broadcast(q), F.col(label_col) != F.col("qlabel")).withColumn(
        "score", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, bfround("score", 6).alias("score"), "rank")
    )


def pq_codes(
    emb: DataFrame,
    n_sub: int = 8,
    n_centroids: int = 16,
    dim: int = 64,
    fp: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes [Jégou et al., PAMI'11]: split each
    vector into ``n_sub`` subvectors, assign each to its nearest
    subspace centroid, and emit the code word — the 64x-compression
    backbone of every billion-vector ANN index.

    Codebook = the subvectors of the ``n_centroids`` smallest-id
    vectors (deterministic, oracle-derivable; swapping in Lloyd-trained
    centroids changes quality, not mechanics or plan).  Distances are
    exact integer micro-fixed-point squared L2, argmin ties break to
    the lowest centroid — bit-identical under any partitioning.

    Assignment runs in ONE Arrow kernel: a (rows x 16) int64 distance
    matrix per subspace via numpy broadcasting — the
    ``_bucket_keys_arrow`` lesson applies verbatim: 128 JVM
    zip_with/aggregate folds per row blow past codegen limits and fall
    back to interpretation (measured 4.8 s vs ~1 s at sf0.1), while
    the codebook is broadcast once per worker as a (8, 16, 8) array.
    Exact int64 arithmetic in numpy keeps bit-identity with the SQL
    oracle.  Returns (id, code_str 's0-s1-…', err_micro2 = total
    squared reconstruction error in micro^2 units).
    """
    sub_dim = dim // n_sub
    vec = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: bfround(x * fp).cast("long"),
        ).alias("fp"),
    )
    seeds = (
        vec.orderBy(id_col).limit(n_centroids).collect()
    )  # bounded: codebook-sized, the same collect IVF/k-means training does
    if len(seeds) != n_centroids:
        raise ValueError(f"pq_codes: need >= {n_centroids} vectors")
    codebook = [
        [
            [int(x) for x in r["fp"][s * sub_dim : (s + 1) * sub_dim]]
            for r in sorted(seeds, key=lambda r: r[id_col])
        ]
        for s in range(n_sub)
    ]

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cb = np.array(codebook, dtype=np.int64)  # (n_sub, n_centroids, sub_dim)

    @pandas_udf("code_str string, err_micro2 long")
    def assign(fps: pd.Series) -> pd.DataFrame:
        m = np.asarray(list(fps), dtype=np.int64)  # (rows, dim)
        codes = np.empty((m.shape[0], n_sub), dtype=np.int64)
        err = np.zeros(m.shape[0], dtype=np.int64)
        for s in range(n_sub):
            sub = m[:, s * sub_dim : (s + 1) * sub_dim]
            diff = sub[:, None, :] - cb[s][None, :, :]
            dists = (diff * diff).sum(axis=2)  # (rows, n_centroids) int64
            codes[:, s] = dists.argmin(axis=1)  # first min = lowest c on ties
            err += dists.min(axis=1)
        strs = ["-".join(str(c) for c in row) for row in codes]
        return pd.DataFrame({"code_str": strs, "err_micro2": err})

    return vec.select(
        id_col, assign(F.col("fp")).alias("pq")
    ).select(id_col, "pq.code_str", "pq.err_micro2")


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_sub: int = 8,
    n_centroids: int = 16,
    dim: int = 64,
    fp: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search [Jégou et al., PAMI'11 §IV]: the
    query stays full-precision, the corpus is its PQ codes, and each
    candidate's distance is 8 table lookups — Σ_s LUT_s[code_s] with
    LUT_s[c] = ||query_sub_s − centroid_c||².  This is how a
    billion-vector index scans: 8 adds per candidate instead of 64
    multiply-adds, on 8-byte codes instead of 256-byte vectors.

    Everything is exact int64 micro-fp arithmetic (codebook = the 16
    smallest-id vectors, as :func:`pq_codes`), so the ADC ranking is
    deterministic and the oracle re-derives it exactly — a full value
    gate on the search path, not just a recall bound.  One Arrow
    kernel computes all queries' LUT sums per batch; top-k per query
    is a bounded window.  Returns (query_id, vec_id, adc_micro2,
    rank).  On isotropic random vectors recall vs exact L2 is poor by
    nature (PQ exploits cluster structure real embeddings have);
    mechanics, not quality, are what this gates.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    sub_dim = dim // n_sub
    vec = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: bfround(x * fp).cast("long"),
        ).alias("fp"),
    )
    seeds = vec.orderBy(id_col).limit(max(n_centroids, n_queries)).collect()
    seeds = sorted(seeds, key=lambda r: r[id_col])
    cb = np.array(
        [
            [
                [int(x) for x in r["fp"][s * sub_dim : (s + 1) * sub_dim]]
                for r in seeds[:n_centroids]
            ]
            for s in range(n_sub)
        ],
        dtype=np.int64,
    )  # (n_sub, n_centroids, sub_dim)
    qm = np.array(
        [[int(x) for x in r["fp"]] for r in seeds[:n_queries]], dtype=np.int64
    )  # (n_queries, dim)
    # per-query lookup tables, built once on the driver: (nq, n_sub, nc)
    luts = np.stack(
        [
            np.stack(
                [
                    ((cb[s] - q[s * sub_dim : (s + 1) * sub_dim][None, :]) ** 2).sum(1)
                    for s in range(n_sub)
                ]
            )
            for q in qm
        ]
    )

    @pandas_udf("array<long>")
    def adc(fps: pd.Series) -> pd.Series:
        m = np.asarray(list(fps), dtype=np.int64)
        codes = np.empty((m.shape[0], n_sub), dtype=np.int64)
        for s in range(n_sub):
            sub = m[:, s * sub_dim : (s + 1) * sub_dim]
            codes[:, s] = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(2).argmin(1)
        out = np.empty((m.shape[0], luts.shape[0]), dtype=np.int64)
        for qi in range(luts.shape[0]):
            out[:, qi] = luts[qi][np.arange(n_sub)[None, :], codes].sum(1)
        return pd.Series(list(out))

    # posexplode yields the query's POSITION in the LUT stack (0..nq-1);
    # map it back to the real seed id before self-exclusion — on any id
    # space that isn't contiguous 0-based, comparing vec_id against the
    # position would exclude the wrong row and leave each query's own
    # vector in its top-k at distance 0 (r4 ADVICE).
    qid_arr = F.array(*[F.lit(int(r[id_col])) for r in seeds[:n_queries]])
    scored = (
        vec.select(id_col, F.posexplode(adc(F.col("fp"))).alias("qpos", "d"))
        .withColumn("query_id", F.element_at(qid_arr, F.col("qpos") + 1))
    )
    w = Window.partitionBy("query_id").orderBy("d", id_col)
    return (
        scored.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            id_col,
            F.col("d").alias("adc_micro2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
