"""Sampling determinism under repartitioning, split fractions, and a
stream-stream interval join vs its batch equivalent."""

from __future__ import annotations

from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.io import load_events_stream, load_table
from lawfirm_data_pipeline_spark.operators.sampling import hash_split, stratified_hash_sample

SF = "/root/testdata/sf0.01"


def test_hash_split_stable_under_repartition(spark):
    docs = load_table(spark, SF, "documents")
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id", {"train": 0.8, "val": 0.2}).select("doc_id", "split").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(7), "doc_id", {"train": 0.8, "val": 0.2})
        .select("doc_id", "split")
        .collect()
    }
    assert a == b


def test_hash_split_fractions_approximate(spark):
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    counts = {
        r.split: r.n
        for r in hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    assert abs(counts["train"] / total - 0.9) < 0.03
    assert set(counts) == {"train", "val", "test"}


def test_stratified_sample_respects_salt_independence(spark):
    docs = load_table(spark, SF, "documents")
    s1 = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.5}, salt="a")
    s2 = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.5}, salt="b")
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 != ids2  # different salts draw different members
    assert all(r.lang == "en" for r in s1.select("lang").distinct().collect())


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Purchases joined to clicks of the same user within the preceding
    hour — streaming (two watermarked streams) equals the batch join."""
    clicks_s = load_events_stream(spark, SF).filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    buys_s = load_events_stream(spark, SF).filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
    )
    # self-qualified join keys need aliased frames
    c = clicks_s.alias("c").withWatermark("click_ts", "365 days")
    b = buys_s.alias("b").withWatermark("buy_ts", "365 days")
    joined = c.join(
        b,
        F.expr(
            "c.user_id = b.user_id AND buy_ts >= click_ts "
            "AND buy_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select("click_id", "buy_id")
    ckpt = str(tmp_path / "ckpt")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {(r.click_id, r.buy_id) for r in spark.sql("SELECT * FROM ssj").collect()}

    ev = load_table(spark, SF, "events")
    cb = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    bb = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
    )
    batch = cb.join(
        bb,
        (F.col("user_id") == F.col("u2"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    exp = {(r.click_id, r.buy_id) for r in batch.select("click_id", "buy_id").collect()}
    assert got == exp and len(got) > 0
