"""Unit + plan tests for the CMS frequency audit, weighted reservoir
sampling, and the column-correlation matrix."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from lawfirm_data_pipeline_spark.io import load_table
from lawfirm_data_pipeline_spark.operators.sampling import weighted_reservoir_sample
from lawfirm_data_pipeline_spark.operators.sketch import cms_frequency_audit
from lawfirm_data_pipeline_spark.operators.stats import column_correlations

from .test_plans import plan_of

SF = "/root/testdata/sf0.01"


def test_cms_guarantees_hold(spark):
    docs = load_table(spark, SF, "documents")
    rows = cms_frequency_audit(docs, depth=4, width=256).collect()
    assert rows and all(r.within_lower for r in rows)
    assert all(r.within_upper for r in rows)


def test_weighted_reservoir_exact_k_and_stable(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    a = [r.doc_id for r in weighted_reservoir_sample(docs, 50, "doc_id", "n_chars").collect()]
    b = [
        r.doc_id
        for r in weighted_reservoir_sample(
            docs.repartition(17), 50, "doc_id", "n_chars"
        ).collect()
    ]
    assert len(a) == 50 and a == b


def test_weighted_reservoir_prefers_heavy_rows(spark):
    rows = [Row(id=i, w=1e6) for i in range(50)]
    rows += [Row(id=i, w=1e-3) for i in range(50, 550)]
    df = spark.createDataFrame(rows)
    got = {r.id for r in weighted_reservoir_sample(df, 50, "id", "w").collect()}
    heavy = sum(1 for i in got if i < 50)
    assert heavy >= 45  # ln(u)/1e6 ~ 0 beats ln(u)/1e-3 << 0 almost surely


def test_correlations_match_numpy(spark):
    li = load_table(spark, SF, "lineitem").limit(5000)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    got = {
        (r.col_x, r.col_y): r.corr
        for r in column_correlations(li, cols).collect()
    }
    pdf = li.select(cols).toPandas()
    m = np.corrcoef(pdf.to_numpy(dtype=np.float64), rowvar=False)
    idx = {c: i for i, c in enumerate(cols)}
    for (x, y), corr in got.items():
        assert abs(corr - m[idx[x], idx[y]]) < 1e-5, (x, y)


def test_correlations_single_scan_no_wide_shuffle(spark):
    li = load_table(spark, SF, "lineitem")
    plan = plan_of(
        column_correlations(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    )
    assert plan.count(") Scan parquet") == 1
    # global aggregate: only a single-partition exchange, no hash shuffle
    assert "hashpartitioning" not in plan
