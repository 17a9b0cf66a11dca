"""M63 — round-4 wave 3: streaming restart recovery, join-view IVM,
nearest as-of join.

q232 is the exactly-once-across-restarts gate the streaming story was
missing at the query level: a real file-source → file-sink stream is
stopped mid-corpus, new data arrives, a NEW query resumes from the
SAME checkpoint, and the final totals must equal the batch oracle —
double-processing (checkpoint ignored) or data loss (offsets skipped)
both flip the hash.  q233 extends q130's self-maintainable grouped
views to JOIN views with the three Gupta-Mumick delta terms.  q234
adds the bidirectional nearest-in-time as-of variant (q51 is
backward-only) as a band-bucketed equi-join.

Registered after m62 — outside the round-4 driver window; first driver
rows with the round-5 rotation.  Two-scale differential green at
registration; BASELINE.md rows same-commit.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.ivm import maintain_join_totals
from ..operators.temporal import asof_nearest
from ..queries import query
from ..streaming.bounded import drain
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


# -- q232: exactly-once totals across a streaming restart
@query(
    "q232_stream_restart_recovery",
    f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST({bfround_sql('value * 100', 0)} AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events WHERE user_id % 13 = 0
    GROUP BY 1
    """,
)
def q232_stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half the slice lands in the source dir and streams to a parquet
    sink (file-sink commit log = exactly-once); the query STOPS; the
    second half arrives; a NEW query with the same checkpoint resumes
    and drains it.  Totals over the sink must equal one batch pass:
    reprocessing phase-1 files would double them, losing offsets would
    drop them.  This is the recovery contract a production pipeline
    restarts rely on, exercised with real checkpoints — not a unit
    mock.  (At scale the sink is the lake table and the checkpoint
    lives with it; the mechanics are identical.)"""
    with tempfile.TemporaryDirectory(prefix="q232_", ignore_cleanup_errors=True) as scratch:
        src, sink, ckpt = (os.path.join(scratch, d) for d in ("src", "sink", "ckpt"))
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") % 13 == 0)
            .select(
                "event_id",
                "user_id",
                bfround(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        ev.filter(F.col("event_id") % 2 == 0).write.parquet(src)

        def sink_writer():
            return (
                spark.readStream.schema("event_id long, user_id long, cents long")
                .parquet(src)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
            )

        drain(spark, sink_writer(), "recovery_drain")  # phase 1
        ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
        # restart: same checkpoint, new query object
        drain(spark, sink_writer(), "recovery_drain")

        out = (
            spark.read.parquet(sink)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("cents").cast("long").alias("total_cents"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# -- q233: join-view IVM (inserts on BOTH sides, three delta terms)
@query(
    "q233_ivm_join_totals",
    f"""
    WITH a AS (SELECT o_custkey,
                      CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT) AS cents
               FROM orders),
         b AS (SELECT c_custkey, c_nationkey FROM customer)
    SELECT b.c_nationkey AS nat,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(a.cents) AS BIGINT) AS total
    FROM a JOIN b ON a.o_custkey = b.c_custkey
    GROUP BY 1
    """,
)
def q233_ivm_join_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order totals over orders ⋈ customer, maintained
    INCREMENTALLY: the old view (3/4 of orders ⋈ 9/10 of customers)
    plus the three delta terms ΔA⋈B, A⋈ΔB, ΔA⋈ΔB — the full old join
    is never recomputed (operators/ivm.maintain_join_totals).  The
    oracle recomputes from the complete tables; integer contributions
    make the maintained view bit-identical to the recompute."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        bfround(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_nationkey").alias("nat")
    )
    a_old = orders.filter(F.crc32(F.col("k").cast("string")) % 4 != 0)
    a_ins = orders.filter(F.crc32(F.col("k").cast("string")) % 4 == 0)
    b_old = cust.filter(F.col("k") % 10 != 0)
    b_ins = cust.filter(F.col("k") % 10 == 0)
    view_old = (
        a_old.join(b_old, "k")
        .groupBy("nat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("total"),
        )
    )
    return maintain_join_totals(
        view_old, a_old, a_ins, b_old, b_ins, on="k", group_col="nat",
        value_col="cents",
    )


# -- q234: nearest-in-time as-of join (purchase ← nearest click, ±2 h)
_TOL_US = 7_200_000_000


@query(
    "q234_asof_nearest",
    f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS cts FROM events
               WHERE event_type = 'click'),
         cand AS (
            SELECT p.event_id, p.user_id, p.ts, c.cts, c.click_id,
                   abs(epoch_us(p.ts) - epoch_us(c.cts)) AS gap_us
            FROM p JOIN c ON c.user_id = p.user_id
            WHERE abs(epoch_us(p.ts) - epoch_us(c.cts)) <= {_TOL_US}
         ),
         ranked AS (
            SELECT event_id, user_id, ts, cts, gap_us, click_id,
                   row_number() OVER (PARTITION BY event_id
                                      ORDER BY gap_us, cts, click_id) AS rn
            FROM cand
         )
    SELECT event_id, user_id, ts, cts AS asof_ts, gap_us, click_id
    FROM ranked WHERE rn = 1
    """,
)
def q234_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest click within ±2 h of each purchase, per user — the
    bidirectional as-of attribution join.  Band-bucketed equi-join
    (bucket = ts div tolerance, probe {b-1,b,b+1}) so no range
    predicate reaches the join; the oracle's per-user range join is the
    semantics, the bucketed plan is the scale path
    (operators/temporal.asof_nearest)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.col("event_id").alias("click_id")
    )
    return asof_nearest(
        purchases,
        clicks,
        key="user_id",
        left_id="event_id",
        ts="ts",
        right_ts="ts",
        tolerance_us=_TOL_US,
        right_payload=["click_id"],
        tie_break="click_id",
    )
