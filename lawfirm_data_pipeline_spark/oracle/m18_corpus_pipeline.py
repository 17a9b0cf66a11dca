"""M18 — corpus composite + streaming enrichment + embedding prototypes
(round 3).

q97 chains the round-3 operators the way a real pretraining ingest does:
normalize → tokenize once → quality gate → quality-aware duplicate
survivor selection → temperature-scaled mixture allocation, all composed
into ONE Catalyst plan (single scan of ``documents``; every intermediate
is a projection or a hash aggregate, no materialization between stages).
q98 runs a REAL stream-static enrichment join (readStream events ⋈
broadcast customer dim → tumbling aggregate, memory sink) checked
against batch SQL; q99 computes per-label embedding centroids with
exact fixed-point accumulation; q100/q101 complete the multimodal
charter (resize boundary, audio windowing + Arrow feature kernel) with
md5-reproducible full-value oracles across the Python boundary; q102 is
the sketch-form quantile profile (approx_percentile + exact-twin
tolerance gate, the q50 pattern); q103 is the cross-source
contamination matrix (pairwise 5-gram overlap, fan-out bounded by
#sources); q104 is a REAL stream-stream interval join (event-time
attribution with watermark-bounded state on both sides); q105 puts the
salted hot-key aggregation under the driver gate (exact equality with
the unsalted plan).

Registered after m7 — outside round 3's 50-query driver window (it was
full: 11 never-checked round-2 queries + repaired events queries + the 7
new m17 queries + m7's q50 value gate).  Rotation plan: m18-m23 (q97-
q123) register FIRST in round 4 so the whole round-3 wave gets driver
CORRECTNESS rows then (27 queries; the remaining window slots go to
long-proven modules in round-robin).  Until that,
tests/test_oracle_queries.py runs the identical comparison locally at
sf0.01 (and the round's sf0.1 sweep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import text as TX
from ..operators.dedup import keep_best_in_group
from ..operators.sampling import temperature_mixture_weights
from ..operators.text import normalize_text
from ..queries import query
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

# q93/q97 expected-token twin: the 1e6-scaled weight, binary-floored
# at d=0 exactly like the Spark side's bfround(weight * 1e6)
_W6 = bfround_sql("CAST(pa AS DOUBLE) / z", 6)
_ETOK_FP = bfround_sql(f"({_W6}) * 1000000.0", 0)


# Shared quality fragments (identical derivation to q54's oracle —
# lowercase-token stats; see oracle/m8_training_ops.py).
_LTOKS_RAW = "list_filter(str_split_regex(trim(text), '\\s+'), t -> t != '')"


@query(
    "q97_corpus_pipeline",
    f"""
    WITH norm AS (
        SELECT doc_id, source,
               lower(trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
                                         '\\s+', ' ', 'g'))) AS text
        FROM documents
    ),
    t AS (
        SELECT doc_id, source, text,
               list_filter(str_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS ltoks,
               {_LTOKS_RAW} AS toks
        FROM norm
    ),
    feats AS (
        SELECT doc_id, source, text,
               len(toks) AS n_tok,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS wl,
               CASE WHEN length(text) > 0
                    THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                    ELSE 0.0 END AS pr,
               CASE WHEN len(ltoks) > 0
                    THEN CAST(len(list_filter(ltoks, x -> list_contains(['the','a','of','to','and','in','is','it','that','for'], x))) AS DOUBLE) / len(ltoks)
                    ELSE 0.0 END AS sr
        FROM t
    ),
    scored AS (
        SELECT doc_id, source, text, n_tok,
               ((CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
              + (CASE WHEN wl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END)
              + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.2 END)
              + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.4 END)) / 4.0 AS quality
        FROM feats
    ),
    qualified AS (SELECT * FROM scored WHERE quality >= 0.75 AND n_tok >= 10),
    ranked AS (
        SELECT doc_id, source, n_tok,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY n_tok DESC, doc_id) AS rn
        FROM qualified
    ),
    kept AS (SELECT doc_id, source, n_tok FROM ranked WHERE rn = 1),
    per AS (SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS size
            FROM kept GROUP BY source),
    s AS (SELECT source, n_docs, size,
                 CAST({bfround_sql('power(CAST(size AS DOUBLE), 0.3) * 1e9', 0)} AS BIGINT) AS pa
          FROM per),
    z AS (SELECT sum(pa) AS z FROM s)
    SELECT source, n_docs, size,
           {bfround_sql('CAST(pa AS DOUBLE) / z', 6)} AS weight,
           CAST({_ETOK_FP} AS BIGINT)
               AS expected_tokens
    FROM s CROSS JOIN z
    """,
)
def q97_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize → quality-gate → keep-best dedup → α-mixture budget, as
    one plan: the scan feeds projections and hash aggregates only, so
    Catalyst pipelines the whole chain without materializing a stage
    (mirrors a 100 TB ingest where each materialization would be a
    corpus-sized write)."""
    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    norm = docs.select("doc_id", "source", normalize_text("text").alias("text"))
    t = norm.select(
        "doc_id",
        "source",
        "text",
        TX.tokens("text").alias("toks"),
        TX.tokens(F.lower("text")).alias("ltoks"),
    )
    scored = t.select(
        "doc_id",
        "source",
        "text",
        F.size("toks").cast("int").alias("n_tok"),
        TX.quality_score_of(F.col("text"), F.col("toks"), F.col("ltoks")).alias("quality"),
    )
    qualified = scored.filter((F.col("quality") >= 0.75) & (F.col("n_tok") >= 10))
    # carry the winner's source/n_tok through the keep-best struct: a
    # semi-join back onto `qualified` would re-run the whole
    # normalize+tokenize+score upstream a second time
    best = keep_best_in_group(
        qualified,
        quality=F.col("n_tok"),
        fp=F.md5(F.col("text").cast("binary")),
        carry=["source"],
    )
    kept = best.select("source", F.col("best_quality").alias("n_tok"))
    return temperature_mixture_weights(
        kept,
        stratum="source",
        size_col="n_tok",
        alpha=0.3,
        budget_tokens=1_000_000,
        count_alias="n_docs",
    ).select("source", "n_docs", "size", "weight", "expected_tokens")


# -- q98: stream-static enrichment join + tumbling aggregate
@query(
    "q98_stream_enriched_window",
    f"""
    SELECT time_bucket(INTERVAL '6 hours', e.ts) AS wstart,
           time_bucket(INTERVAL '6 hours', e.ts) + INTERVAL '6 hours' AS wend,
           c.c_nationkey,
           count(*) AS n,
           {bfround_sql('sum(e.value)', 2)} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2, 3
    """,
)
def q98_stream_enriched_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed events join the static customer dimension (broadcast — a
    stream-static join never shuffles the stream) before a tumbling
    count/sum per nation; memory-sink drain compared against batch SQL
    proves the unified-API path (streaming/windows.py)."""
    from ..io import load_events_stream
    from ..streaming.bounded import run_stream_to_table
    from ..streaming.windows import enriched_tumbling_counts

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    stream = load_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        spark,
        stream,
        lambda df: enriched_tumbling_counts(
            df, cust, on_left="user_id", on_right="c_custkey", group_col="c_nationkey"
        ),
        "q98_enriched",
        output_mode="complete",
    )
    return out.withColumn("sum_value", bfround("sum_value", 2))


# -- q99: per-label embedding centroids (class prototypes)
@query(
    "q99_label_centroids",
    f"""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
         u AS (SELECT label, i - 1 AS pos,
                      CAST({bfround_sql('v[i] * 1e9', 0)} AS BIGINT) AS x_fp
               FROM e, unnest(generate_series(1, 64)) AS t(i)),
         agg AS (SELECT label, pos, sum(x_fp) AS s, count(*) AS n
                 FROM u GROUP BY 1, 2)
    SELECT label, pos, n,
           -- normalize -0.0 (a tiny negative exact sum rounds to a
           -- NEGATIVE zero here but a positive one in Spark; the sign
           -- of zero is noise, not value)
           CASE WHEN {bfround_sql('CAST(s AS DOUBLE) / 1e9 / n', 6)} = 0 THEN 0.0
                ELSE {bfround_sql('CAST(s AS DOUBLE) / 1e9 / n', 6)} END AS centroid
    FROM agg
    """,
)
def q99_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-prototype centroids per label, long-form (scalar cells) with
    nano-fixed-point exact sums — bit-identical under any partitioning
    (operators/similarity.label_centroids)."""
    from ..operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


# -- q100: multimodal resize boundary (binary -> binary, audited)
@query(
    "q100_resize_audit",
    """
    WITH m AS (
        SELECT id AS media_id,
               repeat(md5(CAST(id AS VARCHAR)), CAST(id % 7 AS INT) + 1) AS payload
        FROM range(64) t(id)
    ),
    r AS (
        SELECT media_id,
               substring(repeat(payload, CAST(1024 / length(payload) AS INT) + 1),
                         1, 1024) AS out
        FROM m
    )
    SELECT media_id, CAST(length(out) AS BIGINT) AS out_bytes, md5(out) AS out_md5
    FROM r
    """,
)
def q100_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing through a real Arrow mapInPandas boundary
    (binary in -> exactly-W*H-byte binary out).  The stub kernel cycles
    source bytes, so DuckDB reproduces the output digest from the same
    synthetic payloads — a full value oracle across the Python boundary
    (operators/multimodal.resize_image_stub)."""
    from ..operators.multimodal import resize_image_stub

    # 1 slice for 64 rows: a per-core fan-out would launch 32 Python
    # workers to resize two images each (see multimodal._media_partitions)
    media = spark.range(64, numPartitions=1).selectExpr(
        "id AS media_id",
        "CAST(repeat(md5(CAST(id AS STRING)), CAST(id % 7 AS INT) + 1) AS BINARY) AS payload",
    )
    out = resize_image_stub(media, target_w=32, target_h=32)
    return out.select(
        "media_id",
        F.length("payload").cast("long").alias("out_bytes"),
        F.md5("payload").alias("out_md5"),
    )


# -- q101: audio windowing + per-window Arrow feature kernel
@query(
    "q101_audio_windows",
    """
    WITH m AS (
        SELECT p_partkey AS media_id, 500 + p_partkey * 13 AS duration_ms
        FROM part WHERE p_partkey < 300 AND p_partkey % 3 = 1
    ),
    w AS (
        SELECT media_id,
               unnest(generate_series(0,
                   greatest(CAST(ceil(CAST(duration_ms AS DOUBLE) / 250) AS BIGINT) - 1, 0)))
                   AS widx
        FROM m
    )
    SELECT media_id, widx, widx * 250 AS win_start_ms,
           ('0x' || substring(md5(CAST(media_id AS VARCHAR) || ':' || CAST(widx AS VARCHAR)), 1, 4))::BIGINT AS energy
    FROM w
    """,
)
def q101_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio clip -> fixed-width windows (Catalyst explode from duration
    metadata) -> per-window feature over a REAL Arrow pandas_udf; the
    md5-derived stub energy makes the Python kernel's output fully
    value-checkable in SQL (operators/multimodal.audio_window_features_stub)."""
    from ..operators.multimodal import audio_window_features_stub

    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_partkey") < 300) & (F.col("p_partkey") % 3 == 1)
    )
    media = part.selectExpr(
        "p_partkey AS media_id",
        "CAST(NULL AS BINARY) AS payload",
        """named_struct(
             'media_type', 'audio', 'mime', 'audio/wav',
             'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT),
             'duration_ms', 500 + p_partkey * 13,
             'sample_rate', 16000) AS meta""",
    )
    return audio_window_features_stub(media, window_ms=250)


# -- q102: approximate quantiles with a value-level tolerance gate
@query(
    "q102_approx_quantiles",
    f"""
    SELECT source,
           {bfround_sql('quantile_cont(n_chars, 0.50)', 4)} AS exact_q50,
           true AS within_tol
    FROM documents GROUP BY source
    """,
)
def q102_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q96: `approx_percentile` (single-pass sketch,
    no per-group value shuffle) gated value-level against the exact
    interpolated quantile — the same exact-twin + Spark-side tolerance
    verdict pattern as q50, so the sketch's accuracy is hash-checked,
    not just its row count.  Relative-error bound 5% at accuracy=1000."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(1000)).alias("approx_q50"),
        bfround(F.percentile("n_chars", F.lit(0.5)), 4).alias("exact_q50"),
    )
    return agg.select(
        "source",
        "exact_q50",
        (
            F.abs(F.col("approx_q50") - F.col("exact_q50"))
            / F.greatest(F.col("exact_q50"), F.lit(1.0))
            <= 0.05
        ).alias("within_tol"),
    )


# -- q103: cross-source contamination matrix (train/eval leakage audit)
@query(
    "q103_cross_source_overlap",
    """
    WITH t AS (SELECT doc_id, source,
                      list_filter(str_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS toks
               FROM documents),
         idx AS (SELECT DISTINCT source,
                        array_to_string(toks[i:i+4], ' ') AS sh
                 FROM t, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS u(i)),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                          count(*) AS n_shared_shingles
                   FROM idx a JOIN idx b ON a.sh = b.sh AND a.source < b.source
                   GROUP BY 1, 2)
    SELECT source_a, source_b, n_shared_shingles FROM pairs
    """,
)
def q103_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources share verbatim 5-gram passages with which — the
    leakage audit run before declaring train/eval splits clean.  The
    distinct (source, shingle) index bounds the self-join fan-out by
    #sources, never document count (operators/curation.cross_source_overlap)."""
    from ..operators.curation import cross_source_overlap

    docs = load_table(spark, sf_dir, "documents", rebalance=True)
    return cross_source_overlap(docs, n=5)


# -- q104: stream-stream interval join (event-time attribution)
@query(
    "q104_stream_stream_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase' AND user_id % 5 = 0),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click' AND user_id % 5 = 0)
    SELECT p.event_id, c.click_id
    FROM p JOIN c ON p.user_id = c.user_id
     AND c.click_ts <= p.ts
     AND c.click_ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def q104_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join: purchases attribute to the clicks
    of the preceding hour, both sides streamed with watermarks bounding
    join state to O(rate x window).  Drained to a memory sink and
    compared against the batch interval join — batch/stream unification
    for the two-stream topology (streaming/windows.py)."""
    from ..io import load_events_stream
    from ..streaming.bounded import run_stream_to_table
    from ..streaming.windows import stream_stream_interval_join

    def build(stream):
        # one user cohort (20%): the topology and state machinery are
        # identical, but per-batch state-store commit volume — the cost
        # driver on a bounded replay — stays bench-sized
        cohort = stream.filter(F.col("user_id") % 5 == 0)
        purchases = cohort.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = cohort.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        joined = stream_stream_interval_join(
            purchases,
            clicks,
            key="user_id",
            left_ts="ts",
            right_ts="click_ts",
            lookback="1 hour",
        )
        return joined.select(
            F.col("l.event_id").alias("event_id"), F.col("r.click_id").alias("click_id")
        )

    stream = load_events_stream(spark, sf_dir)
    return run_stream_to_table(spark, stream, build, "q104_ss_join", output_mode="append")


# -- q105: salted hot-key aggregation (driver-gated skew path)
@query(
    "q105_salted_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem GROUP BY 1, 2
    """,
)
def q105_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on lineitem's few, huge grouping keys
    (the hot-key shape: ~4 distinct (returnflag, linestatus) groups own
    the whole table).  Phase 1 spreads each key over 8 salts so no
    reducer owns a whole group; phase 2 combines partials.  Values are
    exactly the plain groupBy's (decomposable aggregates over exact
    integers), so the oracle is the unsalted SQL
    (operators/skew.salted_aggregate)."""
    from ..operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_quantity_int", F.col("l_quantity").cast("long")
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n": ("count", "l_orderkey"),
            "sum_qty": ("sum", "l_quantity_int"),
            "first_ship": ("min", "l_shipdate"),
            "last_ship": ("max", "l_shipdate"),
        },
        n_salts=8,
    )
    return out.select(
        "l_returnflag", "l_linestatus", "n", "sum_qty", "first_ship", "last_ship"
    )
