"""Differential oracle tests: every registered query vs its DuckDB SQL.

This is the same comparison the driver runs (row count + columns +
order-insensitive values) at sf0.01, so a green run here predicts a green
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import tempfile

import pytest

from lawfirm_data_pipeline_spark.queries import ORACLE_SQL, QUERIES
from lawfirm_data_pipeline_spark.schemas import DRIVER_TABLES

from .conftest import SF_ORACLE
from .oracle_compare import canon_multiset, compare


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, tmp_path, monkeypatch):
    # start from an empty CacheManager so the hygiene check below sees
    # only what this query left behind; its scratch goes under tmp_path
    spark.catalog.clearCache()
    views, tables = _tables(spark, True), _tables(spark, False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = QUERIES[name](spark, SF_ORACLE)
    sql = ORACLE_SQL.get(name)
    if sql is None:
        # Rows-only check, mirroring the driver's weaker gate — which
        # still canonicalizes the Spark output (round-1 q40 crashed
        # there on an array column), so canonicalize here too.
        rows = canon_multiset(df.toPandas())
        assert len(rows) >= 0
    else:
        compare(df, duck, sql)
    # a finished query leaves no cache entry, no running stream, no
    # temp view (io.register_views' driver tables excepted: q55, q240
    # and q241 run their SQL verbatim over them), no scratch dir and no
    # catalog table
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
    assert not spark.streams.active, name
    assert _tables(spark, True) - views <= set(DRIVER_TABLES), name
    assert not any(tmp_path.iterdir()), name
    assert _tables(spark, False) == tables, name


def _tables(spark, temporary: bool) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary == temporary}
