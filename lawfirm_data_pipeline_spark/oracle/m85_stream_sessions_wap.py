"""M85 — round-5 wave 6: streaming session-window state + the
write-audit-publish lake pattern.

q275 upgrades q24's batch ``session_window`` to a REAL streaming run:
the aggregation holds per-user session state across micro-batches and
merges windows as events arrive (the stateful operator Structured
Streaming implements with a dedicated session store).  The memory-sink
result must equal the batch lag/cumsum island derivation exactly —
a value gate on the streaming state machine, not just the expression.

q276 composes the OCC catalog with the declarative-expectations audit
(q214's idea) into the write-audit-publish (WAP) workflow every
production lake runs: stage a version invisibly, run data-contract
checks against the STAGED data, publish the commit only when the audit
passes — a poisoned batch must leave the catalog head untouched.  The
oracle re-derives both audits and the surviving table state.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_events_stream, load_table
from ..queries import query
from ..sources.lake import Catalog
from lawfirm_data_pipeline_spark.functions.rounding import bfround, bfround_sql


@query(
    "q275_stream_session_windows",
    f"""
    WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id % 17 = 0),
    marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes' OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM e
    ),
    islands AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           {bfround_sql('sum(value)', 2)} AS sum_value
    FROM islands
    GROUP BY user_id, sid
    """,
)
def q275_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window aggregation executed on a real readStream (state
    merges across micro-batches); complete-mode memory sink compared to
    the batch island oracle.  The user filter keeps session state at
    |users|/17 — the knob that bounds state on an unbounded stream."""
    from ..streaming.bounded import run_stream_to_table
    from ..streaming.windows import session_windows

    stream = load_events_stream(spark, sf_dir).filter(F.col("user_id") % 17 == 0)
    out = run_stream_to_table(
        spark,
        stream,
        lambda s: session_windows(s, "30 minutes"),
        "q275_sessions",
    )
    return out.withColumn("sum_value", bfround("sum_value", 2)).withColumn(
        "n_events", F.col("n_events").cast("long")
    )


@query(
    "q276_write_audit_publish",
    f"""
    WITH good AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    ),
    bad AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
        UNION ALL
        SELECT o_orderkey, -1.0 FROM orders WHERE o_orderkey % 1000 = 2
    ),
    bad_audit AS (
        SELECT CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bad_price,
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dup_keys
        FROM (SELECT * FROM good UNION ALL SELECT * FROM bad)
    )
    SELECT 'published_rows' AS metric,
           (SELECT CAST(count(*) AS BIGINT) FROM good) AS n
    UNION ALL
    SELECT 'published_cents',
           (SELECT CAST(sum(CAST({bfround_sql('o_totalprice * 100', 0)} AS BIGINT)) AS BIGINT)
            FROM good)
    UNION ALL SELECT 'rejected_bad_price', (SELECT n_bad_price FROM bad_audit)
    UNION ALL SELECT 'rejected_dup_keys',
           (SELECT CASE WHEN n_dup_keys > 0 THEN 1 ELSE 0 END FROM bad_audit)
    UNION ALL SELECT 'head_after_reject', 0
    """,
)
def q276_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAP through the catalog: commit a clean batch (audit passes →
    publish), then attempt a poisoned batch (negative prices + replayed
    keys) appended to the published table — its audit runs against the
    STAGED, unpublished version and fails, so nothing is published and
    the head still reads the clean state.  Output pins both audit
    verdicts and the surviving table's row count + cents checksum."""
    orders = load_table(spark, sf_dir, "orders")
    good = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    bad = (
        orders.filter(F.col("o_orderkey") % 3 == 1)
        .select("o_orderkey", "o_totalprice")
        .unionByName(
            orders.filter(F.col("o_orderkey") % 1000 == 2).select(
                "o_orderkey", F.lit(-1.0).alias("o_totalprice")
            )
        )
    )

    def audit(df: DataFrame) -> dict[str, int]:
        row = df.agg(
            F.coalesce(
                F.sum(F.when(F.col("o_totalprice") <= 0, 1).cast("long")), F.lit(0)
            ).alias("n_bad_price"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
            .cast("long")
            .alias("n_dup_keys"),
        ).collect()[0]
        return {"n_bad_price": row["n_bad_price"], "n_dup_keys": row["n_dup_keys"]}

    with tempfile.TemporaryDirectory(prefix="q276_", ignore_cleanup_errors=True) as scratch:
        cat = Catalog(scratch)

        def wap(incoming: DataFrame) -> tuple[bool, dict[str, int]]:
            """Stage (existing ∪ incoming), audit the STAGED version,
            publish only on a clean audit — the staged dir stays
            orphaned (vacuumable) on reject."""
            txn = cat.transaction()
            base = (
                txn.read(spark, "audited_orders")
                if "audited_orders" in txn.base
                else good.limit(0)
            )
            staged = base.unionByName(incoming)
            v = txn.stage("audited_orders", staged)
            from ..sources.lake import read_version

            verdict = audit(
                read_version(spark, os.path.join(scratch, "audited_orders"), v)
            )
            if verdict["n_bad_price"] == 0 and verdict["n_dup_keys"] == 0:
                txn.commit()
                return True, verdict
            return False, verdict  # abort: nothing published

        ok1, _ = wap(good)
        ok2, bad_verdict = wap(bad)
        assert ok1 and not ok2
        head_id, tables = cat.snapshot()
        published = cat.read(spark, "audited_orders", (head_id, tables))
        summary = published.agg(
            F.count(F.lit(1)).cast("long").alias("published_rows"),
            F.sum(bfround(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("published_cents"),
        ).collect()[0]
        rows = [
            ("published_rows", int(summary["published_rows"])),
            ("published_cents", int(summary["published_cents"])),
            ("rejected_bad_price", int(bad_verdict["n_bad_price"])),
            ("rejected_dup_keys", 1 if bad_verdict["n_dup_keys"] > 0 else 0),
            ("head_after_reject", int(head_id)),
        ]
        return spark.createDataFrame(rows, "metric string, n long")
