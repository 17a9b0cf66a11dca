"""Regression pins for the r3/r4 ADVICE findings (r4 verdict #8).

Each test asserts the FIXED behavior directly so a silent regression
fails like a wrong answer.  The r3 items already pinned elsewhere:
CSV emptyValue/multiLine round-trip (test_formats.py), k-means
short-seed-read raise (test_cluster_bloom.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- r3 ADVICE: m43 mask bound derives from data, >63 sources raise ------

def test_m43_source_bit_guard_raises_past_63(spark):
    from lawfirm_data_pipeline_spark.oracle.m43_governance_stats import (
        guarded_max_source_bit,
    )

    ok = spark.createDataFrame([(0,), (5,), (62,)], "s int")
    assert guarded_max_source_bit(ok).collect()[0]["max_s"] == 62
    bad = spark.createDataFrame([(0,), (63,)], "s int")
    with pytest.raises(Exception, match="at most 63 sources"):
        guarded_max_source_bit(bad).collect()


# --- r3 ADVICE: Morton y-residue must use pmod, not % --------------------

def test_morton_date_residue_positive_before_epoch(spark):
    """Dates before the 1995-01-01 epoch must map to the positive
    residue (Python/DuckDB % semantics), never a negative remainder."""
    df = spark.createDataFrame(
        [("1994-12-31",), ("1992-03-01",), ("1996-07-04",)], "o_orderdate string"
    )
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
    got = {
        r["o_orderdate"]: r["y"]
        for r in df.select(
            "o_orderdate", F.pmod(days.cast("long"), F.lit(1024)).alias("y")
        ).collect()
    }
    import datetime

    epoch = datetime.date(1995, 1, 1)
    for s, y in got.items():
        d = datetime.date.fromisoformat(s)
        assert y == (d - epoch).days % 1024  # Python % is the positive residue
        assert 0 <= y < 1024


# --- r4 ADVICE: catalog commit files are complete when visible -----------

def test_catalog_commit_file_visible_only_complete(spark, tmp_path):
    """The commit path publishes via temp-file + os.link: a visible
    commit-<n>.json is always complete JSON, hidden temp files are
    never picked up by snapshot(), and no temp litter survives."""
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    df = spark.range(5).withColumnRenamed("id", "k")
    t = cat.transaction()
    t.stage("a", df)
    assert t.commit() == 0
    # a stray in-flight temp file (crashed writer) must not break reads
    open(os.path.join(cat._log, ".tmp-commit-deadbeef"), "w").write("{")
    head_id, tables = cat.snapshot()
    assert head_id == 0 and tables == {"a": 0}
    # every visible commit file parses as complete JSON
    import json

    for f in os.listdir(cat._log):
        if f.startswith("commit-"):
            json.load(open(os.path.join(cat._log, f)))
    # the successful commit left no temp litter of its own
    assert [f for f in os.listdir(cat._log) if f.startswith(".tmp-")] == [
        ".tmp-commit-deadbeef"
    ]


# --- r4 ADVICE: pq_adc_topk self-exclusion on non-contiguous ids ---------

def test_pq_adc_self_exclusion_on_shifted_ids(spark):
    """With vec_ids offset by +100000 the positional index != the real
    id; the query's own vector must still be excluded (no distance-0
    self rows) and query_id must be the real seed id."""
    from lawfirm_data_pipeline_spark.io import load_table
    from lawfirm_data_pipeline_spark.operators.similarity import pq_adc_topk

    emb = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .filter(F.col("vec_id") < 64)
        .withColumn("vec_id", (F.col("vec_id") + 100000).cast("long"))
    )
    out = pq_adc_topk(emb, n_queries=4, k=5).collect()
    qids = {r["query_id"] for r in out}
    assert qids == {100000, 100001, 100002, 100003}
    for r in out:
        assert r["vec_id"] != r["query_id"]
    # each query's own vector codes to itself -> ADC 0 with itself; a
    # positional comparison would have left such a row in the top-k
    assert all(
        not (r["adc_micro2"] == 0 and r["vec_id"] == r["query_id"]) for r in out
    )


# --- r4 ADVICE: WAV decode walks the chunk list --------------------------

def test_wav_decode_handles_extra_chunks(spark):
    """A LIST chunk between fmt and data must not shift the PCM parse;
    stats must equal the canonical-header twin."""
    import struct

    from lawfirm_data_pipeline_spark.operators.multimodal import (
        decode_wav_stats,
        synth_wav_bytes,
    )

    def with_list_chunk(raw: bytes) -> bytes:
        # canonical layout: RIFF(12) fmt(8+16) data(8+n)
        fmt = raw[12:36]
        data = raw[36:]
        lst = struct.pack("<4sI", b"LIST", 10) + b"INFOxxxxxx"
        body = fmt + lst + data
        return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body

    base = [synth_wav_bytes(i) for i in range(6)]
    rows = [(i, base[i]) for i in range(3)] + [
        (i, with_list_chunk(base[i])) for i in range(3, 6)
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["n_samples"], r["sample_sum"], r["peak"])
           for r in decode_wav_stats(media).collect()}
    # canonical twin for the LIST-chunk rows
    plain = spark.createDataFrame(
        [(i, base[i]) for i in range(6)], "media_id long, payload binary"
    )
    exp = {r["media_id"]: (r["n_samples"], r["sample_sum"], r["peak"])
           for r in decode_wav_stats(plain).collect()}
    assert got == exp


def test_wav_decode_raises_without_data_chunk(spark):
    import struct

    from lawfirm_data_pipeline_spark.operators.multimodal import decode_wav_stats

    hdr = struct.pack("<4sI4s", b"RIFF", 4, b"WAVE")
    media = spark.createDataFrame([(0, hdr)], "media_id long, payload binary")
    with pytest.raises(Exception, match="missing fmt/data"):
        decode_wav_stats(media).collect()


# --- r8 ADVICE: adaptive-plane sizing counts the RAW input ----------------

def test_lsh_adaptive_sizing_counts_raw_input_not_parsed_projection(spark):
    """The n_planes sizing probe must count the raw vectors DataFrame
    (column-prunable to a metadata count), not the parsed/normed
    projection `v` — counting `v` duplicated the _dvec parse work the
    localCheckpoint exists to avoid (r8 ADVICE #2)."""
    from lawfirm_data_pipeline_spark.operators.similarity import lsh_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.25]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    counted_cols = []
    cls = type(df)
    orig = cls.count

    def recording_count(self):
        counted_cols.append(tuple(self.columns))
        return orig(self)

    cls.count = recording_count
    try:
        lsh_neardup_pairs(df, dim=4, target_occupancy=8).collect()
    finally:
        cls.count = orig
    assert counted_cols, "adaptive sizing never counted (target_occupancy set)"
    assert counted_cols[0] == ("vec_id", "embedding"), (
        "sizing probe counted a derived projection, not the raw input: "
        f"{counted_cols[0]}"
    )


# --- r8 ADVICE: float value-col rejection must precede materialization ----

def test_ranking_float_rejection_runs_before_pinning(spark):
    """The float/double TypeError must be raised from lazy schema
    analysis BEFORE the range pin plans (and samples) the input
    (r8 ADVICE #3)."""
    from lawfirm_data_pipeline_spark.operators import ranking

    df = spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "k int, v double"
    )
    orig = ranking.pin

    def booby_trap(*a, **kw):
        raise AssertionError("materialized the input before the dtype check")

    ranking.pin = booby_trap
    try:
        with pytest.raises(TypeError, match="exact arithmetic"):
            ranking.global_running_sum(df, "v", ["k"], "rs")
    finally:
        ranking.pin = orig


# --- r10 ADVICE #1: _sum/_avg decimal snap must not change float ---------
# semantics — lossless fixed-point groups aggregate in exact decimal,
# anything else (NaN/Inf, |x|>=1e24, sub-micro) falls back to plain
# SUM(double)/AVG(double) instead of quantizing or raising under ANSI.

def _agg_one(spark, values, **agg):
    from lawfirm_data_pipeline_spark.query import Model

    df = spark.createDataFrame([(v,) for v in values], "x double")
    return Model(df, "t").aggregate(**agg).collect()[0]


def test_sum_exact_fixed_point_is_decimal_exact(spark):
    # plain double sum of 0.1 x 10 is 0.9999999999999999; the decimal
    # branch must yield exactly 1.0 for lossless 1dp money-like data
    row = _agg_one(spark, [0.1] * 10, _sum={"x": True}, _avg={"x": True})
    assert row["sum_x"] == 1.0
    assert row["avg_x"] == 0.1


def test_sum_exact_nan_and_inf_keep_double_semantics(spark):
    import math

    row = _agg_one(spark, [1.0, float("nan")], _sum={"x": True}, _avg={"x": True})
    assert math.isnan(row["sum_x"]) and math.isnan(row["avg_x"])
    row = _agg_one(spark, [1.0, float("inf")], _sum={"x": True})
    assert math.isinf(row["sum_x"]) and row["sum_x"] > 0


def test_sum_exact_submicro_not_quantized_to_zero(spark):
    # 1e-9 is below the DECIMAL(30,6) grid: the old unconditional snap
    # summed these to 0.0; the fallback must keep the plain double sum
    row = _agg_one(spark, [1e-9] * 4, _sum={"x": True})
    assert row["sum_x"] == pytest.approx(4e-9, rel=1e-12)
    assert row["sum_x"] != 0.0


def test_sum_exact_beyond_decimal_ceiling_no_ansi_raise(spark):
    # |x| >= 1e24 overflows DECIMAL(30,6); must fall back, not raise
    row = _agg_one(spark, [1e300, 1e300], _sum={"x": True})
    assert row["sum_x"] == 2e300


def test_sum_exact_lossless_fallback_is_per_group(spark):
    """group_by: a lossy group falls back while a lossless sibling
    group still gets the exact decimal sum in the same aggregation."""
    from lawfirm_data_pipeline_spark.query import Model

    rows = [("clean", 0.1)] * 10 + [("dirty", 1e-9)] * 4
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: r["sum_x"]
        for r in Model(df, "t").group_by(by=["g"], _sum={"x": True}).collect()
    }
    assert got["clean"] == 1.0
    assert got["dirty"] == pytest.approx(4e-9, rel=1e-12)


# --- r10 ADVICE #3: differential exclusion is type-matched, loud ---------

def test_differential_resource_classifier_is_type_based():
    """A genuine oracle bug whose MESSAGE contains 'Out of Memory'
    must stay RED (not excluded); true resource types are excluded."""
    import errno

    import duckdb

    from tools.differential_sf1 import is_oracle_resource_failure as cls

    # message-substring impostors: real bugs, must NOT be excluded
    assert not cls(RuntimeError("Binder Error: Out of Memory column"), duckdb)
    assert not cls(ValueError("No space left on device (in a string)"), duckdb)
    # genuine resource failures by TYPE
    assert cls(MemoryError(), duckdb)
    if isinstance(getattr(duckdb, "OutOfMemoryException", None), type):
        assert cls(
            duckdb.OutOfMemoryException("could not allocate block"), duckdb
        )
    e = OSError(errno.ENOSPC, "No space left on device")
    assert cls(e, duckdb)
    assert not cls(OSError(errno.EIO, "I/O error"), duckdb)
    # DuckDB wraps disk-full as IOException, errno lost: text check is
    # scoped UNDER that type only
    if isinstance(getattr(duckdb, "IOException", None), type):
        assert cls(duckdb.IOException("No space left on device"), duckdb)
        assert not cls(duckdb.IOException("file is corrupt"), duckdb)


# --- r10: concurrent-gate stamps ignore untracked measurement outputs ----

def test_git_stamp_ignores_untracked_measurement_outputs():
    """An untracked artifact JSON produced by a sibling census must not
    flip git_dirty (stamps describe the CODE that ran); any other
    untracked or modified file still counts."""
    from tools._stamp import _MEASUREMENT_OUTPUTS

    ignored = [
        "?? plan_lint_r10.json",
        "?? rounding_audit_r11.json",
        "?? determinism_r10.json",
        "?? determinism_sf3_r9.json",
        "?? differential_sf3.json",
        "?? differential_freshdraw_r10.json",
        "?? bench_sweep_r10_final.json",
        "?? bench_queries.json",
    ]
    counted = [
        " M differential_sf1.json",     # tracked overwrite: real dirt
        "?? some_new_file.py",
        " M lawfirm_data_pipeline_spark/query.py",
        "?? differential_sf1.json.bak",
    ]
    for ln in ignored:
        assert _MEASUREMENT_OUTPUTS.match(ln), ln
    for ln in counted:
        assert not _MEASUREMENT_OUTPUTS.match(ln), ln


# --- r11 ADVICE #1: JPEG decode requires EOI after the final MCU --------

def test_jpeg_cut_before_eoi_raises():
    """A payload truncated just before (or inside) the EOI marker must
    raise — the old decoder returned a complete image for cuts at
    len-2 and len-1, and the step-7 truncation fuzz happened to skip
    exactly those offsets."""
    from lawfirm_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_bytes,
        synth_jpeg_bytes,
    )

    raw = synth_jpeg_bytes(7)
    for cut in (len(raw) - 2, len(raw) - 1):
        with pytest.raises(ValueError, match="EOI|truncated"):
            decode_jpeg_bytes(raw[:cut])


# --- r11 ADVICE #2: _sum_exact decimal overflow degrades, never raises --

def test_sum_exact_decimal_overflow_degrades_to_double(spark):
    """A lossless group whose DECIMAL(38,6) accumulator overflows
    (~1e8 values near the 1e24 row ceiling) must fall back to the
    reference's SUM(double)/AVG(double) instead of an ANSI raise; a
    small fixed-point group must still get the exact decimal sum."""
    from lawfirm_data_pipeline_spark.query import _avg_exact, _sum_exact

    n, v = 120_000_000, 9.9e23  # sum ~1.19e32 > DECIMAL(38,6) max
    df = spark.range(n).select(F.lit(v).alias("x"))
    row = df.agg(_sum_exact(F.col("x")).alias("s"), _avg_exact(F.col("x")).alias("a")).first()
    assert row["s"] == pytest.approx(n * v, rel=1e-9)
    assert row["a"] == pytest.approx(v, rel=1e-9)

    small = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], "x double")
    assert small.agg(_sum_exact(F.col("x")).alias("s")).first()["s"] == 0.6


# --- r11 ADVICE #3: zlib/struct errors carry the media-id context -------

def test_media_errors_carry_media_id_for_zlib_and_struct(spark):
    """decode_image's loud-fail contract promises the media-id prefix;
    zlib.error (valid-CRC PNG, corrupt deflate) and struct.error
    (<30-byte 'BM' header) used to escape unwrapped."""
    import struct as _struct
    import zlib as _zlib

    from lawfirm_data_pipeline_spark.operators.multimodal import decode_image

    def chunk(typ, data):
        return (
            _struct.pack(">I", len(data)) + typ + data
            + _struct.pack(">I", _zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", 4, 3, 8, 2, 0, 0, 0)
    bad_png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"this is not deflate data")  # valid CRC
        + chunk(b"IEND", b"")
    )
    media = spark.createDataFrame(
        [(7, bad_png)], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="media 7"):
        decode_image(media).collect()

    short_bmp = b"BM" + b"\x00" * 10  # header unpack -> struct.error
    media = spark.createDataFrame(
        [(9, short_bmp)], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="media 9"):
        decode_image(media).collect()


# --- r11 ADVICE #4: close-gate steps never clobber artifacts on crash ---

def test_close_gate_run_preserves_artifact_on_failure(tmp_path, monkeypatch):
    """A failing gate step must leave the previously committed artifact
    intact (old behavior truncated it at launch / moved partial output
    over it); a succeeding step replaces it.  The parallel path gates
    its shutil.move on the same rc == 0."""
    import sys as _sys

    from tools import close_gate

    monkeypatch.setattr(close_gate, "_REPO", str(tmp_path))
    artifact = tmp_path / "plan_lint_r99.json"
    artifact.write_text('{"valid": "committed artifact"}')

    ok = close_gate._run(
        "failstep",
        [_sys.executable, "-c", "print('partial'); raise SystemExit(3)"],
        "plan_lint_r99.json",
    )
    assert not ok
    assert artifact.read_text() == '{"valid": "committed artifact"}'

    ok = close_gate._run(
        "okstep",
        [_sys.executable, "-c", "print('{\"fresh\": 1}')"],
        "plan_lint_r99.json",
    )
    assert ok
    assert artifact.read_text().strip() == '{"fresh": 1}'

