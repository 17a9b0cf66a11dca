"""M88 — round-5 wave 9: incremental near-dup ingest + a real
watermark drop gate.

q282 — incremental MinHash/LSH dedup: the production shape of near-dup
detection is NOT corpus x corpus — it's "does tonight's batch collide
with the accumulated history".  Band keys for BOTH sides are md5
arithmetic (the q33/q34 discipline), the candidate join is batch-bands
x history-bands only (cost tracks batch size x bucket occupancy, never
|history|²), and every candidate is verified with the exact distinct-
shingle Jaccard — all integers to one rounded division, so DuckDB
re-derives signatures, collisions, and verdicts identically.

q283 — watermark late-drop, the REAL streaming semantics: two files
stream through ``maxFilesPerTrigger=1``; file 0 carries on-time rows
plus a watermark pusher, file 1 replays the same keys one minute later
— by then the watermark has passed their event times, so Structured
Streaming must DROP them from the windowed aggregation.  The appended
result (windows closed by the batch-1 watermark) therefore counts
file-0 rows only; a single leaked late row flips the hash.  q201
audited lateness in batch — this gates the actual drop.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..pin import pin
from ..operators.dedup import minhash_signatures
from ..queries import query
from ..streaming.bounded import drain
from ._shared import LTOKS_SQL as _LTOKS, SHINGLES_SQL as _SHINGLES
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql

_K = 8
_BANDS = 4
_RPB = _K // _BANDS

_MH_AGGS_SQL = ",\n           ".join(
    f"min(md5('{i}|' || sh)) AS mh{i}" for i in range(_K)
)
_BAND_KEYS_SQL = ", ".join(
    "md5('{b}|' || {cols}) AS band{b}".format(
        b=b,
        cols=" || '|' || ".join(f"mh{b * _RPB + r}" for r in range(_RPB)),
    )
    for b in range(_BANDS)
)

_HIST_SQL = "SELECT doc_id, text FROM documents WHERE doc_id < 150"
_BATCH_SQL = """
    SELECT doc_id + 300000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
    FROM documents WHERE doc_id < 150 AND doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 400000, text FROM documents WHERE doc_id < 150 AND doc_id % 20 = 0
"""


def _sig_bands_sql(src: str) -> str:
    return f"""
        SELECT doc_id, {_BAND_KEYS_SQL} FROM (
            SELECT doc_id, {_MH_AGGS_SQL}
            FROM (SELECT doc_id, unnest({_SHINGLES}) AS sh
                  FROM (SELECT doc_id, {_LTOKS} AS toks FROM ({src})))
            GROUP BY doc_id
        )
    """


@query(
    "q282_incremental_minhash",
    f"""
    WITH hb AS ({_sig_bands_sql(_HIST_SQL)}),
         bb AS ({_sig_bands_sql(_BATCH_SQL)}),
         hs AS (SELECT doc_id AS hid,
                       unnest([band0, band1, band2, band3]) AS bucket FROM hb),
         bs AS (SELECT doc_id AS bid,
                       unnest([band0, band1, band2, band3]) AS bucket FROM bb),
         cands AS (SELECT DISTINCT bs.bid, hs.hid
                   FROM bs JOIN hs ON bs.bucket = hs.bucket),
         hsh AS (SELECT DISTINCT doc_id, sh FROM
                 (SELECT doc_id, unnest({_SHINGLES}) AS sh
                  FROM (SELECT doc_id, {_LTOKS} AS toks FROM ({_HIST_SQL})))),
         bsh AS (SELECT DISTINCT doc_id, sh FROM
                 (SELECT doc_id, unnest({_SHINGLES}) AS sh
                  FROM (SELECT doc_id, {_LTOKS} AS toks FROM ({_BATCH_SQL})))),
         hn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hsh GROUP BY 1),
         bn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM bsh GROUP BY 1),
         common AS (
            SELECT c.bid, c.hid, CAST(count(*) AS BIGINT) AS nc
            FROM cands c
            JOIN bsh ON bsh.doc_id = c.bid
            JOIN hsh ON hsh.doc_id = c.hid AND hsh.sh = bsh.sh
            GROUP BY 1, 2
         )
    SELECT common.bid AS batch_id, common.hid AS hist_id,
           {bfround_sql('CAST(nc AS DOUBLE) / (bn.n + hn.n - nc)', 6)} AS j
    FROM common
    JOIN bn ON bn.doc_id = common.bid
    JOIN hn ON hn.doc_id = common.hid
    WHERE CAST(nc AS DOUBLE) / (bn.n + hn.n - nc) >= 0.5
    """,
)
def q282_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-history LSH: signatures for both sides, band buckets
    joined CROSS-SIDE only, exact Jaccard verify on the candidates.
    The history side exchanges (id, 4 band keys) — never text — and the
    pair space is batch x colliding-history, the incremental posture
    q92 gave exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    batch = (
        docs.filter((F.col("doc_id") < 150) & (F.col("doc_id") % 5 == 0))
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
        )
        .unionByName(
            docs.filter((F.col("doc_id") < 150) & (F.col("doc_id") % 20 == 0)).select(
                (F.col("doc_id") + 400000).alias("doc_id"), F.col("text")
            )
        )
    )

    def bands_of(sigs: DataFrame, out_id: str) -> DataFrame:
        keys = [
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"mh{b * _RPB + r}") for r in range(_RPB)],
                )
            ).alias(f"band{b}")
            for b in range(_BANDS)
        ]
        return sigs.select(F.col("doc_id").alias(out_id), *keys).select(
            out_id,
            F.explode(
                F.array(*[F.col(f"band{b}") for b in range(_BANDS)])
            ).alias("bucket"),
        )

    # The batch is small by definition (tonight's ingest) but its plan
    # unions two document scans and feeds both the signature and the
    # verify paths — pin it so it computes once.  The history side is
    # the scale axis: it must be scanned for signatures (production
    # would read STORED sigs), but the verify stage below only ever
    # joins history shingles onto candidate pairs, so restrict the
    # second history pass to docs that actually collided
    # (value-identical: hn/hsh rows for non-candidates never survive
    # the joins).  Unrestricted and unpinned, this plan scanned
    # documents 9x (round-6 census).
    batch = pin(batch)
    hb = bands_of(minhash_signatures(hist, k=_K, n=3), "hid")
    bb = bands_of(minhash_signatures(batch, k=_K, n=3), "bid")
    cands = pin(bb.join(hb, "bucket").select("bid", "hid").distinct())

    from ..operators.text import shingles_of, tokenized

    def sh_of(d: DataFrame) -> DataFrame:
        return (
            tokenized(d)
            .select("doc_id", F.explode(shingles_of(F.col("toks"), 3)).alias("sh"))
            .distinct()
        )

    hist_hit = hist.join(
        cands.select(F.col("hid").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    # the candidate-restricted shingle sets are consumed twice (size
    # normalizer + common-shingle count) but derive from the pinned
    # batch/cands parents — recomputing the bounded tokenize is cheaper
    # than another pin
    hsh, bsh = sh_of(hist_hit), sh_of(batch)
    hn = hsh.groupBy(F.col("doc_id").alias("hid")).agg(
        F.count(F.lit(1)).cast("long").alias("hn")
    )
    bn = bsh.groupBy(F.col("doc_id").alias("bid")).agg(
        F.count(F.lit(1)).cast("long").alias("bn")
    )
    bsh2 = bsh.select(F.col("doc_id").alias("bid"), "sh")
    hsh2 = hsh.select(F.col("doc_id").alias("hid"), "sh")
    common = (
        cands.join(bsh2, "bid")
        .join(hsh2, ["hid", "sh"])
        .groupBy("bid", "hid")
        .agg(F.count(F.lit(1)).cast("long").alias("nc"))
    )
    jexpr = F.col("nc").cast("double") / (F.col("bn") + F.col("hn") - F.col("nc"))
    return (
        common.join(bn, "bid")
        .join(hn, "hid")
        .filter(jexpr >= 0.5)
        .select(
            F.col("bid").alias("batch_id"),
            F.col("hid").alias("hist_id"),
            bfround(jexpr, 6).alias("j"),
        )
    )


@query(
    "q283_watermark_drop",
    """
    WITH base AS (
        SELECT DISTINCT user_id % 25 AS slot
        FROM events WHERE user_id % 11 = 0
    )
    SELECT TIMESTAMP '2030-01-01 10:00:00'
             + CAST(floor(slot / 5.0) AS INT) * 5 * INTERVAL 1 MINUTE AS wstart,
           CAST(count(*) AS BIGINT) AS n
    FROM base GROUP BY 1
    """,
)
def q283_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File 0: one on-time row per distinct slot (10:00 + slot min) and
    an 11:00 watermark pusher.  File 2: the SAME slots one minute later
    — event times now behind the 10:50 watermark, so the engine must
    drop them (file 1 is a neutral spacer; see the lag note below).
    Append-mode output restricted to windows closed by that watermark
    counts exactly one row per slot; a leaked late row makes a count 2
    and flips the hash."""
    users = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 11 == 0)
        .select((F.col("user_id") % 25).alias("slot"))
        .distinct()
    )
    base_ts = F.to_timestamp(F.lit("2030-01-01 10:00:00"))
    on_time = users.select(
        (base_ts + F.make_interval(mins=F.col("slot").cast("int"))).alias("ts")
    )
    # Single-row payload legs are built as JVM literal relations, NOT
    # spark.createDataFrame: a Python local relation has
    # defaultParallelism mostly-empty partitions, and coalesce(1) folds
    # them into ONE task that pays a Python-worker roundtrip per parent
    # partition (~4.5 s/write measured on local[32] — was most of this
    # query's r5 in-sweep 16 s).
    def ts_row(lit: str) -> DataFrame:
        return spark.sql(f"SELECT timestamp'{lit}' AS ts")

    pusher = ts_row("2030-01-01 11:00:00")
    late = users.select(
        (base_ts + F.make_interval(mins=F.col("slot").cast("int") + 1)).alias("ts")
    )
    pusher2 = ts_row("2030-01-01 11:30:00")

    # the late-row filter consumes the watermark with a one-batch lag
    # (measured on Spark 4.1: late rows in the batch RIGHT AFTER the
    # pusher are not yet filtered), so a neutral middle file gives the
    # watermark one batch to take effect before the late replay
    # arrives; the batch-count assertion below makes a Spark-side
    # behavior change loud instead of a silent hash flip
    neutral = ts_row("2030-01-01 10:55:00")
    with tempfile.TemporaryDirectory(prefix="q283_", ignore_cleanup_errors=True) as scratch:
        src = os.path.join(scratch, "src")
        payloads = (
            on_time.unionByName(pusher),
            neutral,
            late.unionByName(pusher2),
        )
        now = 1_700_000_000
        for i, df in enumerate(payloads):
            d = os.path.join(src, f"f{i}.parquet")
            df.coalesce(1).write.parquet(d)
            # file order = modification time; make it explicit
            for root, _, files in os.walk(d):
                for fn in files:
                    os.utime(os.path.join(root, fn), (now + i * 600, now + i * 600))
            os.utime(d, (now + i * 600, now + i * 600))
        stream = (
            spark.readStream.schema("ts timestamp")
            .option("maxFilesPerTrigger", 1)
            # trailing glob: the two payloads are parquet DIRECTORIES;
            # the file source lists matched dirs but does not recurse
            # unmatched subtrees (same trick as io.load_events_stream)
            .parquet(os.path.join(src, "*"))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.col("w.start").alias("wstart"), F.col("w.end").alias("wend"), "n")
        )
        emitted: list = []
        q = drain(
            spark,
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda batch_df, _: emitted.extend(batch_df.collect()))
            .option("checkpointLocation", os.path.join(scratch, "ckpt")),
            "watermark_drop",
        )
        # Contract with the lag note above: 3 file micro-batches (one
        # per payload, maxFilesPerTrigger=1).  If a Spark version ever
        # consumes the watermark without the one-batch lag (or batches
        # files differently), fail HERE with the measured shape instead
        # of surfacing as an unexplained hash mismatch downstream.
        file_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(file_batches) != 3:
            raise AssertionError(
                "q283 expects exactly 3 file micro-batches (watermark "
                f"one-batch-lag contract), got {len(file_batches)}: "
                f"{[(p['batchId'], p['numInputRows']) for p in q.recentProgress]}"
            )
        return (
            spark.createDataFrame(emitted, agg.schema)
            # windows guaranteed closed by the batch-1 watermark (10:50);
            # later windows' emission depends on a trailing no-data batch
            # — excluded to keep the gate deterministic
            .filter(F.col("wend") <= F.to_timestamp(F.lit("2030-01-01 10:50:00")))
            .select("wstart", "n")
        )
