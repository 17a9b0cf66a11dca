"""M6c — similarity-search + multimodal oracle queries (charter §2.C).

Cosine arithmetic is bit-identical between F.aggregate (left-to-right
double accumulation) and DuckDB's list_dot_product — verified empirically
— so scores hash-match without tolerance; both sides still round(6) as
belt-and-braces.

Embedding near-dup queries plant deterministic perturbed copies (the
corpus is random noise with no natural neighbors): vec_id % 20 == 0
re-enters as vec_id + 100000 with +0.1 added to the first 4 coordinates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.multimodal import frame_sample_stub, image_features_stub, synth_media
from ..operators.similarity import (
    ann_recall_gate,
    brute_force_topk,
    lsh_neardup_pairs,
    lsh_topk,
)
from ..queries import query
from ._shared import _COS, BRUTE_FORCE_TOP10_SQL
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q36_cosine_topk",
    f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
         scored AS (
            SELECT q.query_id, c.vec_id,
                   {_COS.format(a='q.qv', b='c.v')} AS score
            FROM c CROSS JOIN q WHERE c.vec_id != q.query_id
         ),
         ranked AS (
            SELECT query_id, vec_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rank
            FROM scored
         )
    SELECT query_id, vec_id, {bfround_sql('score', 6)} AS score, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q36_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(emb, queries, k=5)


# planted perturbed copies: shared derivation now lives in _shared
# (q225's SemDeDup policy reuses it without import-order side effects)
from ._shared import PLANT_SQL as _PLANT_SQL  # noqa: E402
from ._shared import planted_vectors as _planted_vectors  # noqa: E402


@query(
    "q37_embedding_neardup",
    f"""
    WITH vecs AS ({_PLANT_SQL}),
         pairs AS (
            SELECT a.vec_id AS ida, b.vec_id AS idb,
                   {_COS.format(a='a.v', b='b.v')} AS score
            FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
         )
    SELECT ida, idb, {bfround_sql('score', 6)} AS score
    FROM pairs WHERE {bfround_sql('score', 6)} >= 0.9
    """,
)
def q37_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the scale path: sign-LSH
    bucket gate → exact cosine verify (no full-table broadcast, no
    all-pairs — the round-1 registration broadcast the whole table).
    Finds exactly the planted perturbed copies (noise pairs sit near 0;
    planted pairs are nearly parallel — cos ≥ ~0.981, per-pair miss
    ~4.3e-7 at the 8-plane × 16-table defaults; the sf1 value
    differential caught the former 8-table default missing one of its
    ~1000 planted pairs, see lsh_neardup_pairs' recall-budget note)."""
    return lsh_neardup_pairs(
        _planted_vectors(spark, sf_dir), threshold=0.9, id_col="vec_id", vec_col="v"
    )


_RECALL_GATE_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(10 AS BIGINT) AS min_n_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
"""


@query("q38_lsh_ann_topk", _RECALL_GATE_SQL)
def q38_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (the scale path), VALUE-GATED via in-plan
    recall@10 against the brute-force twin (r3 verdict #3 — was
    rows-only): the output is the one-row contract (8 queries answered,
    10 results each, mean recall >= 0.5) the oracle pins to constants.
    Mean recall measured 0.61-0.71 across sf0.001-0.1 with the fixed
    deterministic planes, so 0.5 gates a real regression, not noise;
    tests/test_ann_paths.py keeps the tighter per-run recall assert.

    4 planes x 8 tables: on UNSTRUCTURED (no near-dup) corpora the
    neighbor/non-neighbor angle gap is small, so recall needs fewer
    bits per table and more tables."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = lsh_topk(emb, queries, k=10, n_planes=4, n_tables=8)
    exact = brute_force_topk(emb, queries, k=10)
    return ann_recall_gate(approx, exact, k=10, threshold=0.5)


@query("q38b_lsh_ann_exhaustive", BRUTE_FORCE_TOP10_SQL)
def q38b_lsh_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q38 pipeline in exhaustive mode (n_planes=0 → one bucket):
    explode → bucket equi-join → score → cross-table dedup → rank runs
    end-to-end and must equal brute force exactly — a full value gate on
    the ANN machinery that q38's approximate registration can't provide.
    Single-bucket skew is inherent to exhaustive mode and irrelevant at
    gate scale; the approximate q38 is the performance path."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(emb, queries, k=10, n_planes=0, n_tables=1)


@query(
    "q39_multimodal_frames",
    """
    WITH media AS (
        SELECT p_partkey AS media_id,
               CASE WHEN p_partkey % 3 > 0 THEN 1000 + p_partkey * 37 END AS duration_ms
        FROM part WHERE p_partkey < 400
    )
    SELECT media_id,
           unnest(generate_series(0, greatest(CAST(duration_ms // 1000 AS BIGINT) - 1, 0))) AS frame_idx
    FROM media WHERE duration_ms IS NOT NULL
    """,
)
def q39_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling shape (1 media row → N frame rows) with the
    frame grid derived from typed metadata; media synthesized from `part`
    so the oracle shares the derivation."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    media = part.selectExpr(
        "p_partkey AS media_id",
        "CAST(NULL AS BINARY) AS payload",
        """named_struct(
             'media_type', element_at(array('image','audio','video'), CAST(p_partkey % 3 AS INT) + 1),
             'mime', CAST(NULL AS STRING), 'width', CAST(NULL AS INT),
             'height', CAST(NULL AS INT),
             'duration_ms', CASE WHEN p_partkey % 3 > 0 THEN 1000 + p_partkey * 37 END,
             'sample_rate', CAST(NULL AS INT)) AS meta""",
    )
    frames = frame_sample_stub(media.filter(F.col("meta.duration_ms").isNotNull()), every_ms=1000)
    return frames.select("media_id", "frame_idx")


@query(
    "q40_multimodal_features",
    """
    WITH m AS (
        SELECT id AS media_id,
               repeat(md5(CAST(id AS VARCHAR)), CAST(id % 7 AS INT) + 1) AS payload
        FROM range(64) t(id)
    ),
    f AS (
        SELECT media_id,
               CAST(length(payload) AS BIGINT) AS n_bytes,
               substring(md5(payload), 1, 16) AS phash
        FROM m
    )
    SELECT media_id, n_bytes, phash,
           CAST(('0x' || substring(phash, 1, 2))::BIGINT AS INT) AS f0_byte,
           CAST(('0x' || substring(phash, 15, 2))::BIGINT AS INT) AS f7_byte
    FROM f
    """,
)
def q40_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over a binary media column
    (mapInPandas).  The stub kernel is md5-derived, so DuckDB reproduces
    n_bytes/phash exactly and the feature bytes are recoverable from the
    digest — a FULL value oracle across the Python boundary.  The
    registered projection emits scalars only (array cells crash the
    driver canonicalizer — round-1 q40); full-vector assertions live in
    tests/test_llm_ops.py."""
    media = synth_media(spark, 64)
    feats = image_features_stub(media)
    # feature i = digest byte i / 255; *255 + round recovers the exact
    # integer byte, keeping the gate float-free across float32/float64.
    return feats.select(
        "media_id",
        "n_bytes",
        "phash",
        bfround(F.element_at("features", 1) * 255).cast("int").alias("f0_byte"),
        bfround(F.element_at("features", 8) * 255).cast("int").alias("f7_byte"),
    )
