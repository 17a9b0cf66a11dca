"""Tests for the m46 format gates: pruning actually prunes, all four
formats agree, and the CSV gate genuinely catches type mangling."""

from __future__ import annotations


from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_format_roundtrip_all_formats_agree(spark):
    import lawfirm_data_pipeline_spark.oracle.m46_formats as m

    rows = m.q197_format_roundtrip(spark, SF).collect()
    assert {r["fmt"] for r in rows} == {"parquet", "orc", "csv", "json"}
    assert len({(r["n_rows"], r["checksum"]) for r in rows}) == 1


def test_csv_without_schema_would_fail_gate(spark, tmp_path):
    # the reason q197 pins explicit schemas: inferred CSV re-types and
    # the checksum moves — proving the gate has teeth
    import lawfirm_data_pipeline_spark.oracle.m46_formats as m

    src = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    scratch = str(tmp_path / "csv")
    src.write.mode("overwrite").option("header", "true").csv(scratch)
    naive = spark.read.option("header", "true").csv(scratch)  # all strings
    assert dict(naive.dtypes)["doc_id"] == "string"
    want = m._doc_cksum(src).collect()[0]
    pinned = (
        spark.read.schema(m._DOC_SCHEMA).option("header", "true").csv(scratch)
    )
    got = m._doc_cksum(pinned).collect()[0]
    assert (got["n_rows"], got["checksum"]) == (want["n_rows"], want["checksum"])


def test_partitioned_read_prunes_to_one_directory(spark, tmp_path):
    import lawfirm_data_pipeline_spark.oracle.m46_formats as m

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        F.to_date(F.date_trunc("day", F.col("ts").cast("timestamp"))).alias("day"),
    )
    scratch = str(tmp_path / "events")
    ev.write.mode("overwrite").partitionBy("day").parquet(scratch)
    n_days = ev.select("day").distinct().count()
    assert n_days > 1
    pruned = spark.read.parquet(scratch).filter(F.col("day") == "2024-01-15")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the day predicate must land in PartitionFilters (planning-time
    # pruning) and leave nothing for row-level DataFilters
    assert "PartitionFilters: [isnotnull(day" in plan and "= 2024-01-15)" in plan
    assert "DataFilters: []" in plan
    # and the pruned rows are exactly that day's rows
    want = ev.filter(F.col("day") == "2024-01-15").count()
    assert pruned.count() == want


def test_csv_roundtrip_preserves_empty_and_multiline_text(spark, tmp_path):
    # r3 ADVICE: Spark CSV defaults read '' back as NULL and split
    # newline-bearing records; q197's reader/writer options must keep
    # both intact
    df = spark.createDataFrame(
        [(1, ""), (2, "line one\nline two"), (3, "plain")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "csvrt")
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", "\\N")
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, text string")
        .option("header", "true")
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .option("multiLine", "true")
        .csv(path)
    )
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got == {1: "", 2: "line one\nline two", 3: "plain"}
