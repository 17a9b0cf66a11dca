"""Cross-engine rounding convention pins (r10 verdict task #4).

The repo's exactness discipline for HASHED oracle comparisons has three
approved rounding paths:

1. **binary-floor** — ``floor(x * 10^d + 0.5) / 10^d`` spelled as the
   SAME IEEE expression on both engines (the q144/q266 fix);
2. **exact decimal** — both engines round a DECIMAL value, where
   HALF_UP ties agree exactly (the q01 pattern);
3. **engine round() on doubles is FORBIDDEN in paired positions** —
   Spark's ``round(double, d)`` rounds the double's shortest DECIMAL
   REPR (``BigDecimal.valueOf``: 1.005 → 1.01) while DuckDB rounds the
   BINARY value (1.005 is 1.00499999999999989… → 1.00), so the two
   engines split exactly on inputs whose shortest repr lands a '5' at
   digit d+1.

These tests PIN the underlying engine facts (so an engine upgrade that
changes them fails loudly and the convention can be revisited) and
gate the audit artifact: ``tools/rounding_audit.py`` walks every
query's analyzed plan, and its committed artifact must show ZERO
paired double-rounds.
"""

from __future__ import annotations

import glob
import json
import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# values whose shortest decimal repr lands '5' at digit d+1 but whose
# binary value sits BELOW the tie (repr-vs-binary split class) plus
# exactly-representable dyadic ties (both-engines-agree class)
_REPR_TIES = [1.005, 2.675, 1234.565, -1.005, -2.675]
_DYADIC_TIES = [0.125, 0.375, -0.125, 3.0078125]


def test_engines_split_on_repr_ties_motivating_the_convention(spark):
    """THE reason paired double-rounds are forbidden: Spark rounds the
    repr, DuckDB rounds the binary value.  If this stops failing after
    an engine upgrade, the convention can be relaxed."""
    con = duckdb.connect()
    rows = (
        spark.createDataFrame([(v,) for v in _REPR_TIES], "x double")
        .select("x", F.round("x", 2).alias("r"))
        .collect()
    )
    smap = {r["x"]: r["r"] for r in rows}
    splits = 0
    for v in _REPR_TIES:
        dk = con.execute(f"SELECT round(CAST({v!r} AS DOUBLE), 2)").fetchone()[0]
        if smap[v] != dk:
            splits += 1
    assert splits > 0, (
        "Spark and DuckDB now agree on repr-tie doubles — the paired "
        "double-round prohibition may be obsolete; re-run the audit"
    )


def test_raw_floor_formula_saturates_on_spark_documenting_the_guard(spark):
    """WHY bfround guards: Spark's floor(double) returns LONG and
    silently saturates (1e15·1e6 > long.max → long.max/1e6), where
    DuckDB's floor stays double — the RAW binary-floor formula is NOT
    engine-identical outside |x| < 2^53/10^d."""
    con = duckdb.connect()
    v = 1e15 + 0.5
    srow = (
        spark.createDataFrame([(v,)], "x double")
        .select((F.floor(F.col("x") * 1e6 + 0.5) / 1e6).alias("r"))
        .collect()[0]["r"]
    )
    dk = con.execute(f"SELECT floor(CAST({v!r} AS DOUBLE) * 1e6 + 0.5) / 1e6").fetchone()[0]
    assert srow != dk, "Spark floor no longer saturates — guard may be droppable"


def test_bfround_helper_is_identical_across_engines(spark):
    """Approved path #1: bfround / bfround_sql are the same IEEE ops +
    the same guard constant on both engines — bit-identical on every
    adversarial value INCLUDING the saturation/NaN/Inf hazards the raw
    formula fails (test above)."""
    from lawfirm_data_pipeline_spark.functions.rounding import (
        bfround,
        bfround_sql,
    )

    con = duckdb.connect()
    vals = _REPR_TIES + _DYADIC_TIES + [
        0.1 + 0.2, -7.35,
        1e15 + 0.5, -1e15, 9.2e12,          # beyond 2^53/1e6 — identity branch
        float("inf"), float("-inf"),         # saturation hazard
        9007199254.740991, 9007199254.740993,  # straddle the guard limit
    ]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .select("x", bfround(F.col("x"), 6).alias("r"))
        .collect()
    )
    smap = {r["x"]: r["r"] for r in rows}
    for v in vals:
        # literal goes through VARCHAR: DuckDB parses a bare decimal
        # literal as DECIMAL and its decimal->double cast mis-rounds
        # past 2^53 unscaled (the r10 q01 finding; string->double is
        # correctly rounded) — real queries feed double COLUMNS here
        arg = f"CAST('{v!r}' AS DOUBLE)"
        dk = con.execute(f"SELECT {bfround_sql(arg, 6)}").fetchone()[0]
        assert smap[v] == dk, (v, smap[v], dk)
        if abs(v) < 2.0**53 / 1e6:
            assert smap[v] == math.floor(v * 1e6 + 0.5) / 1e6
    # NaN: NaN on both engines (not Spark's silent 0)
    nan_s = (
        spark.createDataFrame([(float("nan"),)], "x double")
        .select(bfround(F.col("x"), 6).alias("r"))
        .collect()[0]["r"]
    )
    nan_sql = bfround_sql("'nan'::DOUBLE", 6)
    nan_d = con.execute(f"SELECT {nan_sql}").fetchone()[0]
    assert math.isnan(nan_s) and math.isnan(nan_d)


def test_decimal_rounds_agree_across_engines(spark):
    """Approved path #2: both engines HALF_UP (away from zero) on exact
    DECIMAL ties — no repr ambiguity exists in decimal."""
    con = duckdb.connect()
    ties = ["0.5", "1.5", "2.5", "-0.5", "-2.5", "1.005", "-1.005", "2.675"]
    for t in ties:
        scale = 0 if "." not in t or len(t.split(".")[1]) == 1 else 2
        srow = (
            spark.sql(f"SELECT round(CAST('{t}' AS DECIMAL(10,3)), {scale}) AS r")
            .collect()[0]["r"]
        )
        drow = con.execute(
            f"SELECT round(CAST('{t}' AS DECIMAL(10,3)), {scale})"
        ).fetchone()[0]
        assert float(srow) == float(drow), (t, scale, srow, drow)


def _latest_audit() -> str | None:
    paths = sorted(glob.glob(os.path.join(_REPO, "rounding_audit_r*.json")))
    return paths[-1] if paths else None


@pytest.mark.skipif(_latest_audit() is None, reason="no audit artifact yet")
def test_audit_artifact_shows_zero_paired_double_rounds():
    """The committed plan-walk artifact must certify that no query
    pairs a Spark Round(double/float) with a rounding DuckDB oracle —
    the exact latent class behind q144/q266."""
    d = json.load(open(_latest_audit()))
    assert d["errors"] == {}, d["errors"]
    assert d["risky_paired_double_rounds"] == [], [
        (h["query"], h["expr"]) for h in d["risky_paired_double_rounds"]
    ][:10]


def test_tie_injected_aggregate_matches_end_to_end(spark, tmp_path):
    """End-to-end pairing proof on a REAL tie: avg(1.00, 1.01) = 1.005
    — the exact value class where engine rounds split (Spark 1.01,
    DuckDB 1.00).  Both sides computing bfround(avg(x), 2) over the
    same parquet must agree bit-for-bit."""
    from lawfirm_data_pipeline_spark.functions.rounding import (
        bfround,
        bfround_sql,
    )

    pq_path = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, 1.00), (1, 1.01), (2, 0.10), (2, 0.11), (2, 0.105)],
        "g int, x double",
    ).coalesce(1).write.parquet(pq_path)

    got = {
        r["g"]: r["m"]
        for r in spark.read.parquet(pq_path)
        .groupBy("g")
        .agg(bfround(F.avg("x"), 2).alias("m"))
        .collect()
    }

    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT g, {bfround_sql('avg(x)', 2)} AS m "
            f"FROM read_parquet('{pq_path}/*.parquet') GROUP BY g"
        ).fetchall()
    )
    assert got == want, (got, want)
    # and the engine-round pairing would NOT have agreed here:
    eng_s = (
        spark.read.parquet(pq_path)
        .filter("g = 1")
        .agg(F.round(F.avg("x"), 2).alias("m"))
        .collect()[0]["m"]
    )
    eng_d = con.execute(
        f"SELECT round(avg(x), 2) FROM read_parquet('{pq_path}/*.parquet') WHERE g = 1"
    ).fetchone()[0]
    assert eng_s != eng_d, "engines now agree on the avg-tie — revisit"


def test_kernel_round_sites_all_classified():
    """r11 verdict task #5: the audit previously reported
    ``python_kernel_round_sites: 14`` as a bare count (10 of which were
    docstring prose the regex couldn't tell from code).  The tokenize
    scanner must now find every RUNTIME round() call in the package and
    every one must carry a convention classification — an unclassified
    site is an audit failure, live and in the artifact."""
    import sys

    sys.path.insert(0, os.path.join(_REPO, "tools"))
    import rounding_audit as ra

    sites, unclassified = ra._kernel_round_sites()
    assert unclassified == [], unclassified
    # the four known runtime sites, by classification
    by_cls = {}
    for s in sites:
        by_cls.setdefault(s["classification"], []).append(s["site"])
    assert sorted(by_cls) == [
        "exact-decimal-snap",
        "plan-time-integer-constant",
        "unpaired-driver-metric",
    ]
    assert len(by_cls["plan-time-integer-constant"]) == 2

    # once a new-format artifact is committed, it must agree
    latest = _latest_audit()
    if latest:
        d = json.load(open(latest))
        if isinstance(d.get("python_kernel_round_sites"), list):
            assert d["unclassified_kernel_rounds"] == []
            assert {s["site"] for s in d["python_kernel_round_sites"]} == {
                s["site"] for s in sites
            }


# -- one spelling of the convention ------------------------------------------
# Oracle SQL splices ``bfround_sql(X, d)`` at import time, so the guard
# constant and the CASE form live in functions/rounding.py alone; these
# lints keep a hand-inlined copy or an engine round() from creeping back.

_PKG = os.path.join(_REPO, "lawfirm_data_pipeline_spark")


def _package_sources():
    for root, _dirs, files in os.walk(_PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                yield os.path.relpath(path, _PKG), open(path).read()


def _strip_sql_comments(sql: str) -> str:
    """``sql`` with ``--`` line and ``/* */`` block comments blanked;
    single-quoted literals are kept whole, so a quoted '--' is data."""
    out, i, n = [], 0, len(sql)
    while i < n:
        if sql[i] == "'":
            j = sql.find("'", i + 1)
            j = n if j < 0 else j + 1
            out.append(sql[i:j])
            i = j
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(sql[i])
            i += 1
    return "".join(out)


def test_strip_sql_comments_keeps_quoted_dashes():
    sql = "SELECT '--x', a -- round(b, 2)\n/* round(c, 4) */ FROM t"
    assert _strip_sql_comments(sql) == "SELECT '--x', a \n FROM t"


def test_bfround_case_form_is_spelled_only_in_rounding_module():
    hits = [
        rel for rel, src in _package_sources()
        if "isnan(CAST((" in src and rel != os.path.join("functions", "rounding.py")
    ]
    assert hits == [], hits


def test_oracle_sql_has_no_engine_round_outside_q15_decimal_pair():
    """Engine round() in oracle SQL is allowed only on q15's exact
    DECIMAL product (approved path #2); comment prose may say round()."""
    import re

    from lawfirm_data_pipeline_spark.queries import ORACLE_SQL

    engine_round = re.compile(r"(?<![\w.])round\s*\(", re.I)
    hits = {}
    for name, sql in ORACLE_SQL.items():
        code = _strip_sql_comments(sql)
        found = [code[m.start(): m.start() + 60] for m in engine_round.finditer(code)]
        if found:
            hits[name] = found
    assert list(hits) == ["q15_upsert"], hits
    [q15] = hits["q15_upsert"]
    assert "DECIMAL(18,2)" in q15, q15


def test_spark_engine_round_only_at_q15_decimal_site():
    import re

    engine_round = re.compile(r"\bF\.b?round\(")
    hits = [
        (rel, line.strip())
        for rel, src in _package_sources()
        for line in src.splitlines()
        if engine_round.search(line)
    ]
    assert len(hits) == 1, hits
    rel, line = hits[0]
    assert rel == os.path.join("oracle", "m3_mutations.py"), hits
    assert 'cast("decimal(18,2)")' in line, line
