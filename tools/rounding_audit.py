#!/usr/bin/env python
"""Rounding/tie-class audit (r10 verdict task #4).

The r9/r10 close gates caught four cross-engine exactness defects in
the ROUNDING class: Spark's ``round(double, d)`` rounds the shortest
DECIMAL REPR of the double (``BigDecimal.valueOf`` semantics: 1.005 →
1.01) while DuckDB rounds the BINARY value (1.005 is really
1.00499999999999989… → 1.00), so any query that pairs the two engines'
``round`` on a double column is latent-wrong for inputs whose shortest
repr lands a '5' exactly at digit d+1 (empirically confirmed by
``tests/test_rounding_convention.py``).  The q144/q266 fix replaced
both sides with the SAME IEEE expression — binary-floor
``floor(x*10^d + 0.5)/10^d`` — and the q01 fix moved money sums to
tight-scale decimal end-to-end, where both engines' HALF_UP agree
exactly.

The overflow class got an analytic headroom audit in r10 (SCALE.md);
this tool is the same closure for the rounding class: instead of
grepping source text (500+ ``round(`` tokens, mostly safe), it walks
the ANALYZED Catalyst plan of every registered query and records every
``Round``/``BRound`` expression node with its child's resolved
dataType.  The dangerous class is exactly `child_type in (double,
float)` on a query whose DuckDB oracle also calls ``round(`` — decimal
children agree across engines (both HALF_UP on exact decimals), and
binary-floor sites compile to Floor, not Round, so they never appear.

Python-side kernels (mapInPandas) can't round-drift through this walk;
they are found by a tokenize scan (comments/docstrings excluded — SQL
string literals are the plan walk's + ``sql_rounds``'s jurisdiction)
and each site MUST carry an entry in ``_KERNEL_SITE_CLASSIFICATION``
stating how it sits on the repo convention (binary-floor / exact-
decimal snap / plan-time integer constant / unpaired driver metric).
An unclassified site fails the audit (r11 verdict task #5 — the bare
count was informational-only before).

Usage: python tools/rounding_audit.py [--out rounding_audit_r11.json]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


# Every RUNTIME Python round() call site in the package must be listed
# here, keyed by (relpath, exact stripped source line) — editing a site
# invalidates its entry, forcing re-classification.  The classification
# states how the site sits on the repo's cross-engine convention
# (SCALE.md "Rounding/tie-class closure"):
#
#   plan-time-integer-constant: round() snaps a driver-side float
#     product onto the integer grid BEFORE the plan is built; the
#     snapped literal is what both engines execute.  Split/sample
#     fractions carry <= 4 decimals by contract, so frac*10_000's
#     intended value is a whole integer and the float error (~1e-12)
#     is ~12 orders of magnitude from the 0.5 tie; the DuckDB twins
#     hardcode the same integers (oracle/m8_training_ops.py 9000/9500/
#     2000/5000/10000).
#   exact-decimal-snap: round() re-snaps values already exact on a
#     decimal grid (covariance entries carry 6dp), so the nearest tie
#     is >= 0.5-1e-9 away; the paired OUTER rounding is binary-floor
#     (math.floor(x*1e4+0.5)), identical to the SQL twin's bfround_sql.
#   unpaired-driver-metric: observability-only value that never reaches
#     a DataFrame or an oracle comparison (grep: no query consumes it).
_KERNEL_SITE_CLASSIFICATION: dict[tuple[str, str], str] = {
    (
        "lawfirm_data_pipeline_spark/operators/sampling.py",
        "cond = bucket < int(round(hi * 10_000))",
    ): "plan-time-integer-constant",
    (
        "lawfirm_data_pipeline_spark/operators/sampling.py",
        "cond = (F.col(stratum) == value) & (bucket < int(round(frac * 10_000)))",
    ): "plan-time-integer-constant",
    (
        "lawfirm_data_pipeline_spark/operators/stats.py",
        "_sum6 = sum(int(round(cov[i, i] * 1e6)) for i in range(dim)) / 1e6",
    ): "exact-decimal-snap",
    (
        "lawfirm_data_pipeline_spark/pipeline/metrics.py",
        "return round(100.0 * done / total, 2) if total else 0.0",
    ): "unpaired-driver-metric",
}


def _kernel_round_sites() -> tuple[list[dict], list[dict]]:
    """Tokenize-scan the package for runtime ``round`` call sites.

    Comments and string literals never reach the tokenizer's NAME
    stream, so docstring prose and SQL text (the old regex counted 10
    of those among its 14 "sites") are structurally excluded.  Method
    calls on the JVM expression builder (``F.round``) build Catalyst
    Round nodes — the plan walk's jurisdiction — so a NAME preceded by
    '.' with a preceding 'F' is skipped; any other attribute round
    (e.g. a pandas ``.round``) is reported for classification."""
    import io
    import tokenize

    pkg = os.path.join(_REPO, "lawfirm_data_pipeline_spark")
    sites, unclassified = [], []
    for root, _dirs, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, _REPO)
            src = open(path).read()
            toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
            for k, t in enumerate(toks):
                if t.type != tokenize.NAME or t.string != "round":
                    continue
                if k + 1 >= len(toks) or toks[k + 1].string != "(":
                    continue  # bare name (e.g. a kwarg), not a call
                if k and toks[k - 1].string == ".":
                    owner = toks[k - 2].string if k >= 2 else ""
                    if owner == "F":
                        continue  # Catalyst Round node: plan-walk audits it
                row = {
                    "site": f"{rel}:{t.start[0]}",
                    "line": t.line.strip(),
                }
                cls = _KERNEL_SITE_CLASSIFICATION.get((rel, row["line"]))
                if cls:
                    row["classification"] = cls
                    sites.append(row)
                else:
                    unclassified.append(row)
    return sites, unclassified


def _walk_expr(expr, hits: list, qname: str) -> None:
    cls = expr.getClass().getSimpleName()
    if cls in ("Round", "BRound"):
        child = expr.child()
        hits.append(
            {
                "query": qname,
                "kind": cls,
                "child_type": child.dataType().simpleString(),
                "scale": expr.scale().toString(),
                "expr": expr.toString()[:160],
            }
        )
    ch = expr.children()
    for i in range(ch.size()):
        _walk_expr(ch.apply(i), hits, qname)
    # subquery expressions carry whole plans
    name = expr.getClass().getName()
    if name.endswith(("ScalarSubquery", "ListQuery", "Exists", "LateralSubquery")):
        try:
            _walk_plan(expr.plan(), hits, qname)
        except Exception:
            pass


def _walk_plan(plan, hits: list, qname: str) -> None:
    exprs = plan.expressions()
    for i in range(exprs.size()):
        _walk_expr(exprs.apply(i), hits, qname)
    ch = plan.children()
    for i in range(ch.size()):
        _walk_plan(ch.apply(i), hits, qname)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(_REPO, "rounding_audit_r11.json"))
    args = ap.parse_args()

    from tools._stamp import git_stamp

    st = git_stamp()

    import __spark_entry__ as e
    from lawfirm_data_pipeline_spark.session import get_spark
    from lawfirm_data_pipeline_spark.streaming import plan_capture

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    qs = e.queries()
    sqls = e.oracle_sql()

    hits: list[dict] = []
    errors: dict[str, str] = {}
    skipped: list[str] = []
    for name, fn in qs.items():
        plan_capture.drain()
        try:
            df = fn(spark, SF_DIR)
            # a query that drained a stream while building is audited on
            # its captured plans by plan_lint; its rounding surface here
            # is the Python grep, not this walk
            if plan_capture.drain():
                skipped.append(name)
                continue
            _walk_plan(df._jdf.queryExecution().analyzed(), hits, name)
        except Exception as ex:  # noqa: BLE001
            errors[name] = str(ex)[:200]

    # pair with the DuckDB side: which oracles also round?
    sql_rounds = {
        n: len(re.findall(r"\bround\s*\(", sql, re.IGNORECASE))
        for n, sql in sqls.items()
    }

    risky = [
        h
        for h in hits
        if h["child_type"] in ("double", "float")
        # paired engine-round: the oracle rounds too, so BOTH engines'
        # repr-vs-binary tie semantics are in play on the same value
        and sql_rounds.get(h["query"], 0) > 0
    ]
    spark_only = [
        h
        for h in hits
        if h["child_type"] in ("double", "float")
        and sql_rounds.get(h["query"], 0) == 0
    ]

    py_rounds, unclassified = _kernel_round_sites()

    out = {
        "sf_dir": SF_DIR,
        "n_queries_planned": len(qs) - len(skipped) - len(errors),
        "n_round_nodes": len(hits),
        "by_child_type": {
            t: sum(1 for h in hits if h["child_type"] == t)
            for t in sorted({h["child_type"] for h in hits})
        },
        "risky_paired_double_rounds": risky,
        "spark_only_double_rounds": spark_only,
        "skipped_streaming": skipped,
        "errors": errors,
        "python_kernel_round_sites": py_rounds,
        "unclassified_kernel_rounds": unclassified,
        **st,
        "round_nodes": hits,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(
        json.dumps(
            {
                "n_round_nodes": len(hits),
                "by_child_type": out["by_child_type"],
                "risky_paired": len(risky),
                "spark_only_double": len(spark_only),
                "kernel_sites": len(py_rounds),
                "unclassified_kernel": len(unclassified),
                "errors": len(errors),
            }
        )
    )
    sys.exit(1 if errors or unclassified else 0)


if __name__ == "__main__":
    main()
