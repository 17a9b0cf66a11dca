"""Unit + plan tests for the m19 wave: Misra-Gries heavy hitters,
boilerplate passage removal, embedding covariance, positional phrase
search, and the exact-cents stateful streaming totals."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.io import load_table
from lawfirm_data_pipeline_spark.operators.dedup import boilerplate_filter
from lawfirm_data_pipeline_spark.operators.retrieval import (
    phrase_match_counts,
    positional_postings,
)
from lawfirm_data_pipeline_spark.operators.similarity import embedding_covariance
from lawfirm_data_pipeline_spark.operators.sketch import (
    heavy_hitters,
    misra_gries_candidates,
)
from lawfirm_data_pipeline_spark.operators.text import tokens
from lawfirm_data_pipeline_spark.streaming.stateful import (
    has_tws_deps,
    running_user_totals,
    running_user_totals_tws,
)

from .test_plans import plan_of

SF = "/root/testdata/sf0.01"


# --- Misra-Gries -------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_mg_superset_guarantee_tiny_budget(spark):
    # 'hot' is 40% of the stream; k=3 counters must retain it even
    # across partitions (global guarantee: f > N/(k+1))
    texts = ["hot " * 20 + "x y z w", "hot " * 20 + "p q r s"] * 4
    docs = _docs(spark, texts).repartition(4)
    cands = {r.token for r in misra_gries_candidates(docs, k=3).collect()}
    assert "hot" in cands
    # candidate set is bounded by k per partition
    assert len(cands) <= 3 * 4


def test_heavy_hitters_exact_vs_groupby(spark):
    docs = load_table(spark, SF, "documents")
    got = {(r.token, r.cnt) for r in heavy_hitters(docs, phi=0.02).collect()}
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
    n = toks.count()
    import math

    thresh = math.ceil(0.02 * n)
    want = {
        (r.t, r.cnt)
        for r in toks.groupBy("t").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r.cnt >= thresh
    }
    assert got == want and got


def test_heavy_hitters_recount_join_broadcasts(spark):
    docs = load_table(spark, SF, "documents")
    plan = plan_of(heavy_hitters(docs, phi=0.02))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- boilerplate filter ------------------------------------------------


def test_boilerplate_removed_everywhere_including_first(spark):
    boiler = "all rights reserved by the example corp legal"  # 8 tokens
    texts = [
        boiler + " unique alpha beta gamma delta epsilon zeta eta",
        boiler + " other content words one two three four five",
        boiler + " third body text here and there again more",
        "independent document with its own eight tokens here",
    ]
    docs = _docs(spark, texts)
    out = {r.doc_id: r for r in boilerplate_filter(docs, min_docs=3, passage_tokens=8).collect()}
    # the shared leading passage is gone from every doc, first included
    for i in range(3):
        assert boiler not in out[i].text_clean
        assert out[i].n_passages == 2 and out[i].n_kept == 1
    assert out[3].n_kept == out[3].n_passages == 1


def test_boilerplate_only_doc_drops_out(spark):
    boiler = "one two three four five six seven eight"
    docs = _docs(spark, [boiler, boiler, boiler])
    assert boilerplate_filter(docs, min_docs=3, passage_tokens=8).count() == 0


def test_boilerplate_preserves_passage_order(spark):
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    body = "w1 w2 w3 w4 w5 w6 w7 w8 z1 z2 z3 z4 z5 z6 z7 z8"
    texts = [f"{boiler} {body}", boiler + " x1 x2 x3 x4 x5 x6 x7 x8", boiler + " y1 y2 y3 y4 y5 y6 y7 y8"]
    docs = _docs(spark, texts)
    row = boilerplate_filter(docs, min_docs=3, passage_tokens=8).filter("doc_id = 0").first()
    assert row.text_clean == body


def test_boilerplate_hot_set_broadcasts_not_sortmerge(spark):
    docs = load_table(spark, SF, "documents")
    plan = plan_of(boilerplate_filter(docs, min_docs=3, passage_tokens=8))
    # r12: left_anti + separate totals aggregate folded into ONE
    # left_outer broadcast mark + ONE per-doc aggregate (tokenize
    # passes 3 -> 2); the hot set must still broadcast, never sort-merge
    assert "BuildRight" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one per-doc aggregation (no totals re-aggregate + join);
    # collect_list plans as ObjectHashAggregate — partial + final
    import re

    # formatted explain lists each node once in the tree and once in the
    # details section — count the details headers
    assert len(re.findall(r"\(\d+\) ObjectHashAggregate", plan)) == 2, plan


# --- embedding covariance ---------------------------------------------


def test_covariance_matches_numpy(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 4)).astype(np.float32)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    got = {(r.i, r.j): r.cov for r in embedding_covariance(df, dim=4).collect()}
    v64 = vecs.astype(np.float64)
    want = np.cov(v64, rowvar=False, bias=True)
    assert len(got) == 10  # 4*5/2 upper triangle
    for (i, j), cov in got.items():
        assert abs(cov - want[i, j]) < 2e-6, (i, j, cov, want[i, j])


def test_covariance_large_magnitude_no_int64_wrap(spark):
    """r10 q227-class audit: components ~2e3 quantize to |q| ~ 2e9, so
    q_i*q_j ~ 4e18 per ROW — three rows already pass 2^63 and the old
    single-shot int64 matmul wrapped SILENTLY (numpy never raises).
    The chunked arbitrary-precision accumulator must return the exact
    covariance."""
    vals = [
        [2000.0, -2000.0, 1999.5],
        [2000.0, 2000.0, -1999.5],
        [-2000.0, 2000.0, 1999.5],
        [2000.0, -1999.5, 2000.0],
        [1999.5, 2000.0, 2000.0],
    ]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vals)]
    )
    got = {(r.i, r.j): r.cov for r in embedding_covariance(df, dim=3).collect()}
    # exact mirror in Python ints on the same micro grid
    q = [[round(x * 1e6) for x in v] for v in vals]
    n = len(q)
    for (i, j), cov in got.items():
        sxy = sum(r[i] * r[j] for r in q)
        si = sum(r[i] for r in q)
        sj = sum(r[j] for r in q)
        want = round(sxy / 1e12 / n - (si / 1e6 / n) * (sj / 1e6 / n), 6)
        assert cov == want, ((i, j), cov, want)
    # sanity: the regime really is past int64 for a single Gram cell
    assert sum(r[0] * r[0] for r in q) > 2**63


def test_covariance_single_row_wrap_regime_object_fallback(spark):
    """r10 review finding: with |q| ~ 3.1e9 a SINGLE row's q_i*q_j
    already exceeds 2^63 — the chunk=max(1, ...) clamp still wrapped.
    The object-dtype fallback must return the exact value; absurd
    magnitudes past the int64 micro-fp domain must raise loudly."""
    import pytest as _pytest

    vals = [[3100.0, -3100.0], [3100.0, 3100.0]]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in enumerate(vals)]
    )
    got = {(r.i, r.j): r.cov for r in embedding_covariance(df, dim=2).collect()}
    q = [[round(x * 1e6) for x in v] for v in vals]
    n = len(q)
    assert abs(q[0][0] * q[0][0]) > 2**63  # single-row wrap regime
    for (i, j), cov in got.items():
        sxy = sum(r[i] * r[j] for r in q)
        si, sj = sum(r[i] for r in q), sum(r[j] for r in q)
        want = round(sxy / 1e12 / n - (si / 1e6 / n) * (sj / 1e6 / n), 6)
        assert cov == want, ((i, j), cov, want)
    absurd = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1e13, 0.0]), Row(vec_id=1, embedding=[1.0, 1.0])]
    )
    with _pytest.raises(Exception, match="micro fixed-point int64 domain"):
        embedding_covariance(absurd, dim=2).collect()


def test_covariance_partials_are_bounded_rows(spark):
    # the Arrow kernel emits d*(d+1)/2 rows per partition regardless of
    # row count — the property that makes the op 100 TB-safe
    emb = load_table(spark, SF, "embeddings").repartition(8)
    part = embedding_covariance(emb, dim=64)
    assert part.count() == 64 * 65 // 2


# --- phrase search -----------------------------------------------------


def test_phrase_overlapping_matches(spark):
    docs = _docs(spark, ["a a a a", "a b a b", "b b b b"])
    got = {r.doc_id: r.n_matches for r in phrase_match_counts(docs, ["a", "a"]).collect()}
    assert got == {0: 3}


def test_phrase_three_words_and_case_folding(spark):
    docs = _docs(spark, ["The quick Brown fox", "quick brown cow", "the QUICK brown fox jumps"])
    got = {r.doc_id: r.n_matches for r in phrase_match_counts(docs, ["quick", "brown", "fox"]).collect()}
    assert got == {0: 1, 2: 1}


def test_postings_are_exchange_free(spark):
    # postings build (tokenize + posexplode + term filter) is a pure map
    # stage: no shuffle until a consumer aggregates/joins
    docs = load_table(spark, SF, "documents")
    plan = plan_of(positional_postings(docs, terms=["table", "part"]))
    assert "Exchange" not in plan


# --- stateful totals ---------------------------------------------------


def test_running_user_totals_matches_batch(spark):
    from lawfirm_data_pipeline_spark.io import load_events_stream
    from lawfirm_data_pipeline_spark.streaming.bounded import run_stream_to_table

    sf = "/root/testdata/sf0.001"
    out = run_stream_to_table(
        spark,
        load_events_stream(spark, sf),
        running_user_totals,
        "t_totals_unit",
        output_mode="update",
    )
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.max("total_cents").alias("cents"))
        .collect()
    )
    ev = load_table(spark, sf, "events")
    want = {
        r.user_id: (r.n, r.cents)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert {r.user_id: (r.n, r.cents) for r in final} == want


def test_tws_env_gate():
    # this container has no google.protobuf: the TWS path must fail
    # loudly with the fallback pointer, not crash mid-stream
    if has_tws_deps():
        pytest.skip("protobuf present — TWS path runnable; gate not applicable")
    with pytest.raises(NotImplementedError, match="running_user_totals"):
        # the probe fires before any DataFrame use, so None is safe
        running_user_totals_tws(None)
