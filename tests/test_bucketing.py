"""Bucketed co-located joins: same result as plain join, and the plan
has no shuffle Exchange on the bucketed sides."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.io import load_table
from lawfirm_data_pipeline_spark.operators.bucketing import bucketed_join, write_bucketed

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, SF, "orders").withColumnRenamed("o_custkey", "custkey")
    customer = load_table(spark, SF, "customer").withColumnRenamed("c_custkey", "custkey")
    write_bucketed(orders, "orders_b", "custkey", str(root / "orders_b"), n_buckets=8)
    write_bucketed(customer, "customer_b", "custkey", str(root / "customer_b"), n_buckets=8)
    yield "orders_b", "customer_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # force the SMJ path: broadcast would hide the bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join(spark, lt, rt, on="custkey")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    lt, rt = bucketed_tables
    orders = load_table(spark, SF, "orders").withColumnRenamed("o_custkey", "custkey")
    customer = load_table(spark, SF, "customer").withColumnRenamed("c_custkey", "custkey")
    plain = orders.join(customer, on="custkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    )
    bucketed = bucketed_join(spark, lt, rt, on="custkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    )
    p, b = plain.first(), bucketed.first()
    assert p.n == b.n and abs(p.s - b.s) < 1e-6 * abs(p.s)

