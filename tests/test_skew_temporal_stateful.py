"""Skew helpers (equality vs unsalted plans), temporal joins (tolerance,
naive-join equivalence), chunking edges, and the applyInPandasWithState
stateful streaming operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.io import load_events_stream, load_table
from lawfirm_data_pipeline_spark.operators.skew import salted_aggregate, salted_join
from lawfirm_data_pipeline_spark.operators.temporal import asof_join, range_join
from lawfirm_data_pipeline_spark.operators.text import chunk_tokens
from lawfirm_data_pipeline_spark.streaming.stateful import running_user_stats

SF = "/root/testdata/sf0.01"


def rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF, "orders").withColumnRenamed("o_custkey", "custkey")
    customer = (
        load_table(spark, SF, "customer")
        .withColumnRenamed("c_custkey", "custkey")
        .select("custkey", "c_name", "c_nationkey")
    )
    plain = orders.join(customer, on="custkey")
    salted = salted_join(orders, customer, on="custkey", n_salts=8)
    assert rows(salted.select(*plain.columns)) == rows(plain)


def test_salted_aggregate_equals_plain_groupby(spark):
    li = load_table(spark, SF, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sq"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    salted = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "n": ("count", "l_orderkey"),
            "sq": ("sum", "l_quantity"),
            "first_ship": ("min", "l_shipdate"),
            "last_ship": ("max", "l_shipdate"),
        },
        n_salts=8,
    )
    assert rows(salted.select(*plain.columns)) == rows(plain)


def test_asof_join_tolerance_nulls_stale_matches(spark):
    ev = load_table(spark, SF, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    loose = asof_join(purchases, clicks, key="user_id", ts="ts")
    tight = asof_join(purchases, clicks, key="user_id", ts="ts", tolerance_ms=60_000)
    n_loose = loose.filter(F.col("click_id").isNotNull()).count()
    n_tight = tight.filter(F.col("click_id").isNotNull()).count()
    assert 0 < n_tight < n_loose
    # tolerance survivors are genuinely within 60s
    staleness = tight.filter(F.col("click_id").isNotNull()).select(
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("lag_us")
    )
    assert staleness.filter(F.col("lag_us") > 60_000_000).count() == 0


def test_asof_join_tie_break_is_deterministic(spark):
    """Several right rows sharing the exact (key, ts): tie_break must pick
    the max-id row regardless of partitioning/order (the hash-gate flap
    VERDICT r2 flagged)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"), (2, "2024-01-01 00:10:00")],
        "user_id int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", 101, 1.0),
            (1, "2024-01-01 00:05:00", 103, 3.0),  # same ts, higher id wins
            (1, "2024-01-01 00:05:00", 102, 2.0),
            (2, "2024-01-01 00:01:00", 201, 9.0),
        ],
        "user_id int, ts string, click_id int, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for n_part in (1, 5):
        out = asof_join(
            left.repartition(n_part),
            right.repartition(n_part),
            key="user_id",
            ts="ts",
            tie_break="click_id",
        )
        got = {(r.user_id, r.click_id, r.v) for r in out.collect()}
        assert got == {(1, 103, 3.0), (2, 201, 9.0)}


def test_range_join_equals_naive_inequality_join(spark):
    ev = load_table(spark, SF, "events").filter(F.col("user_id") < 30)
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    w_ms = 3_600_000
    naive = errors.join(clicks, on="user_id").filter(
        (F.col("cts") <= F.col("ts"))
        & (F.unix_micros("cts") > F.unix_micros("ts") - w_ms * 1000)
    )
    bucketed = range_join(
        errors,
        clicks.withColumnRenamed("cts", "ts"),
        key="user_id",
        window_ms=w_ms,
    )
    assert bucketed.count() == naive.count()
    assert rows(bucketed.select("event_id", "user_id", F.col("ts_r").alias("cts"))) == rows(
        naive.select("event_id", "user_id", "cts")
    )


def test_chunking_edges(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))), (2, "a b"), (3, ""), (4, None)],
        "id int, text string",
    )
    out = df.select("id", chunk_tokens("text", size=64, overlap=16).alias("chunks"))
    got = {r.id: r.chunks for r in out.collect()}
    # 100 tokens, stride 48 -> chunks start at 1, 49 (covers to 100): 2 chunks
    assert len(got[1]) == 2
    assert got[1][0].chunk.split()[0] == "t0" and got[1][1].chunk.split()[0] == "t48"
    assert len(got[1][1].chunk.split()) == 52  # final partial chunk
    assert len(got[2]) == 1 and got[2][0].chunk == "a b"
    assert got[3] == []
    assert got[4] is None or got[4] == []


def test_stateful_running_user_stats_matches_batch(spark, tmp_path):
    stream = load_events_stream(spark, SF)
    out = running_user_stats(stream)
    ckpt = str(tmp_path / "ckpt")
    q = (
        out.writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    # last emitted row per user = final running totals
    emitted = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
          FROM user_stats) WHERE rn = 1
        """
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in emitted.collect()}
    exp = {r.user_id: (r.n_events, round(r.total_value, 4)) for r in batch.collect()}
    assert got == exp
