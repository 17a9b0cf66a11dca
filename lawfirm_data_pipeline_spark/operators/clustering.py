"""Distributed k-means over the embeddings table (Lloyd's algorithm,
fixed iteration count, deterministic everything).

Clustering is the curation workhorse the similarity module doesn't
cover: topic bucketing before mixture design, per-cluster sampling
rates, and the coarse quantizer IVF training approximates with one
sampled pass (`similarity.ivf_train_centroids`).  This is the full
algorithm with the scale shape k-means always has on a cluster:

* **assignment is a broadcast argmin** — k centroid rows ride to the
  executors; each vector computes k squared-L2 distances inside one
  whole-stage-codegen projection (``zip_with`` + ``aggregate`` over the
  micro-fixed-point arrays).  The fact table never shuffles to be
  assigned.
* **recompute is a combinable aggregation** — ``posexplode`` to
  (cluster, dim) cells, partial sums map-side, k x dim result rows.
  Per round the driver sees exactly k x dim longs (the same k-rows
  collect IVF training already does, `similarity.py:308`), never data.
* **determinism by integer fixed point** — components snap to
  micro-units (1e6) once; distances, sums, and the floor-divided
  centroid updates are exact int64 arithmetic, so the fixed-iteration
  trajectory is bit-identical under any partitioning or engine.  At
  1e6 scaling a squared distance sums 64 terms of <=(4e6)^2 — peak
  ~1e15, and the WCSS total stays under int64 for corpora to ~1e3x
  this sf; production would drop to 1e3 scaling (milli) for the same
  determinism with 1e6 more headroom.

Reference parity: the reference has no clustering (SURVEY.md 2.C
charter addition); this is the training-data-pipeline operator the
charter calls for alongside dedup/ANN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.functions.rounding import bfround

from ..pin import pin

FP = 1_000_000  # micro fixed-point: float32 -> exact int64 components


def to_fp_vec(col: Column | str, fp: int = FP) -> Column:
    """array<float> -> array<long> micro-fixed-point (exact, order-free)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c.cast("array<double>"), lambda x: bfround(x * fp).cast("long"))


def _sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two fixed-point vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _assign(vec: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Argmin over k broadcast-literal centroids; ties -> lowest cluster id.

    The argmin is a single min(struct(dist, cid)) fold over a k-element
    literal array — no explode, no join, no shuffle: each input row is
    mapped to (vec_id, v, cluster_id, dist) in one codegen stage.
    """
    pairs = F.array(
        *[
            F.struct(
                _sq_dist(F.col("v"), F.array(*[F.lit(x) for x in c])).alias("dist"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, c in centroids
        ]
    )
    best = F.array_min(pairs).alias("best")
    return vec.select("vec_id", "v", best).select(
        "vec_id", "v", F.col("best.cid").alias("cluster_id"), F.col("best.dist").alias("dist")
    )


def _recompute(assigned: DataFrame) -> list[tuple[int, list[int]]]:
    """New centroids as exact floor(mean) per (cluster, dim); collects
    exactly k x dim longs — cluster-summary-sized, like IVF training."""
    cells = (
        assigned.select("cluster_id", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster_id", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_cid: dict[int, dict[int, int]] = {}
    for r in cells:
        # exact: |s| < 2^53 at any sf this repo sees (micro-fp * row count)
        by_cid.setdefault(r["cluster_id"], {})[r["pos"]] = int(r["s"] // r["n"])
    return [
        (cid, [comps[p] for p in sorted(comps)]) for cid, comps in sorted(by_cid.items())
    ]


def kmeans_fixed(emb: DataFrame, k: int = 8, iters: int = 2, fp: int = FP) -> DataFrame:
    """Fixed-`iters` Lloyd k-means; returns per-cluster (n_vecs, wcss_fp,
    mean_sq_dist) after the final assignment.

    Init = the vectors with vec_id < k (deterministic, data-derived —
    the seeding a reproducible pipeline wants; k-means++ would add a
    sampling pass without changing the distributed shape).  Per
    iteration: one broadcast-argmin projection + one combinable
    (cluster, dim) aggregation whose result is k x dim rows.  Nothing
    larger than the centroid summary ever reaches the driver.
    """
    # pin the fixed-point projection: the init top-k, each
    # per-iteration recompute collect, and the final assignment are
    # separate actions, so unpinned the scan+transform runs iters+2
    # times (guide §5 — reused AND recompute costs a full input pass).
    vec = pin(emb.select("vec_id", to_fp_vec("embedding", fp).alias("v")))
    # seed from the k SMALLEST vec_ids (not the literal vec_id < k):
    # deterministic on any id space, and a short read fails loudly
    # instead of silently running with fewer clusters (r3 ADVICE)
    init = vec.orderBy("vec_id").limit(k).select("vec_id", "v").collect()
    if len(init) != k:
        raise ValueError(f"kmeans_fixed: need >= {k} vectors, got {len(init)}")
    centroids = sorted((int(r["vec_id"]), [int(x) for x in r["v"]]) for r in init)
    assigned = _assign(vec, centroids)
    for _ in range(iters - 1):
        centroids = _recompute(assigned)
        assigned = _assign(vec, centroids)
    denom = float(fp) * float(fp)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("dist").cast("long").alias("wcss_fp"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            "wcss_fp",
            bfround(F.col("wcss_fp") / F.col("n_vecs") / F.lit(denom), 6).alias(
                "mean_sq_dist"
            ),
        )
    )
