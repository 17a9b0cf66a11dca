"""Plan-lint census: physical-plan audit of every registered query.

Runs ``explain``-level planning (no execution) for all batch registry
entries at $SPARK_GRAFT_SF_DIR and flags anti-patterns the timing sweep
can hide:

* ``CartesianProduct`` — a non-broadcast cross join is never acceptable
  at 100 TB.
* ``BroadcastNestedLoopJoin`` with an UNBOUNDED broadcast side (r6
  verdict #5): BNLJ itself is fine and common — scalar totals and small
  pinned dimensions broadcast into nested-loop probes — but the build
  side must be provably bounded.  :func:`_bnlj_bounded` accepts a build
  subtree only when it is (a) a global aggregate (``keys=[]`` — at most
  one row), (b) driver-local literal data (``LocalTableScan`` /
  ``OneRowRelation`` — bounded by construction), (c) a bounded
  ``Range`` with a literal end, or (d) scans only of the bounded
  dimension tables (nation/region).  Anything else — e.g. a fact-table
  scan on the broadcast side — is flagged even though Spark was willing
  to broadcast it at test scale.
* ``BatchEvalPython`` — row-at-a-time Python UDF in the plan; every
  Python hot path in this repo must be Arrow-batched.
* unpartitioned ``Window`` over unbounded input (r7): Spark executes a
  global-ordered window as ONE partition; flag unless the subtree shows
  a bounding node (aggregate / limit / local data) before any scan —
  the ``operators/ranking.py`` census rule.
* shuffle count per query — informational histogram; outliers (> 12
  shuffles in one plan) get listed under ``review`` for manual
  reading, NOT under ``flagged``.  Since r7 the count is PHYSICAL
  (:func:`_tree_shuffle_count` walks the executed-plan tree, descending
  AdaptiveSparkPlanExec and stopping at pinned ``Scan ExistingRDD``
  leaves); the old string count included ReusedExchange markers and
  cached-recipe printing, overstating deep trees ~2-5× (q196: 19 string
  vs 4 physical).  Streaming captured plans remain string-counted (only
  their text survives the run).
* scans-per-table (``rescans`` key) — the standing version of the
  round-6 scan census: any table scanned ≥3× inside one plan is
  reported (2× is the normal price of a self-join or two-leg union;
  the ten multi-consumer re-scan shapes the r6 census fixed would all
  reappear here).  Informational, like the shuffle histogram.
  Only CartesianProduct, BatchEvalPython, unbounded BNLJ, row-scale
  global windows and plan errors fail the exit code.

Streaming queries can't be planned without running the stream, and
building one runs it: ``streaming.bounded.drain`` records each drained
stream's last executed plan via ``streaming.plan_capture``.  The census
builds every query the same way and reads that buffer after each
build; a query that captured plans is audited on them (the identical
checks), any other on its returned DataFrame's plan.  No list of
streaming queries is kept, so none can go stale.

Usage:  python tools/plan_lint.py            # one JSON line + flag report
"""

from __future__ import annotations

import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables bounded by the data model itself (25 nations, 5
# regions) — safe to broadcast into a nested-loop probe at any SF.
_BOUNDED_DIMS = ("nation", "region")

# Enum-like domain columns in this schema: grouping on ONLY these caps
# an aggregate's output at the domain size regardless of input volume
# (languages and class labels are generator-pinned small enums —
# TESTDATA.md; documents.lang / embeddings.label).  A keyed aggregate
# on an open-domain key (user_id, doc_id...) is NOT bounded and stays
# flagged.
_BOUNDED_DOMAIN_COLS = {"lang", "label"}

_AGG_LINE = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[([^\]]*)\]"
)


def _bnlj_bounded(sub: str) -> bool:
    """Is this BNLJ build-side subtree provably bounded?

    Operates on the subtree's plan string.  Accept iff the output row
    count is capped independently of input volume:

    * a GLOBAL aggregate (``keys=[]``) anywhere on the path — <=1 row;
    * the topmost aggregate keyed ONLY on enum domain columns
      (:data:`_BOUNDED_DOMAIN_COLS`) — <= domain-size rows;
    * every FileScan leaf is a bounded dimension (nation/region) or a
      pinned query set: the embeddings table with a literal
      ``vec_id < k`` / ``vec_id = k`` pushed filter, k <= 1024 —
      ``vec_id`` is the table's unique key, so the literal IS the row
      bound (the ANN/top-k convention: broadcast the queries, never
      shuffle the corpus);
    * driver-local literal data (``LocalTableScan`` /
      ``OneRowRelation``) or a ``Range`` with a literal end.

    ``Scan ExistingRDD`` (``pin`` leaves) is deliberately NOT
    accepted as a leaf: pinned artifacts can be corpus-sized (q133's
    prefix table); a bounded pin must show a bounding aggregate above
    it to pass (q293's model root does: keys=[lang]).
    """
    # (a) 1-row global aggregate anywhere on the path
    if re.search(r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[\]", sub):
        return True
    # (b) topmost aggregate keyed only on enum domain columns
    m = _AGG_LINE.search(sub)
    if m:
        keys = [k.strip() for k in m.group(2).split(",") if k.strip()]
        names = {re.sub(r"#\d+L?\b.*", "", k) for k in keys}
        if names and names <= _BOUNDED_DOMAIN_COLS:
            return True
    # (c) every file scan must be a bounded dim or a pinned query set
    scans = re.findall(r"FileScan \w+ [^\n]*", sub)
    for scan in scans:
        if any(f"/{d}.parquet" in scan or f"/{d}]" in scan for d in _BOUNDED_DIMS):
            continue
        if "/embeddings.parquet" in scan:
            # literal bound on (an expression of) the unique key, either
            # as a pushed filter (LessThan(vec_id,8)) or a post-scan
            # DataFilter expression (cast(vec_id / 8.0 ...) < 250 = 0)
            lim = re.search(r"LessThan\(vec_id,(\d+)\)", scan) or re.search(
                r"vec_id[^\n\]]*? < (\d+)", scan
            )
            eq = re.search(r"EqualTo\(vec_id,\d+\)", scan) or re.search(
                r"vec_id[^\n\]]*? = (\d+)", scan
            )
            if eq or (lim and int(lim.group(1)) <= 1024):
                continue
        return False
    # Range leaves: bounded only with a literal end (Range (0, 127, ...))
    for rng in re.findall(r"Range \(([^)]*)\)", sub):
        parts = [p.strip() for p in rng.split(",")]
        try:
            end = int(parts[1])
        except (IndexError, ValueError):
            return False
        if end > 1_000_000:
            return False
    if scans:
        return True
    # (d) no FileScan: literal local data
    return bool(re.search(r"LocalTableScan|OneRowRelation|Range \(", sub))


_MARKER = re.compile(r"[+:]- ")


def _marker_col(line: str) -> int:
    m = _MARKER.search(line)
    return m.start() if m else -1


def _subtree_at(lines: list[str], i: int) -> str:
    """Text subtree rooted at ``lines[i]``: subsequent lines whose tree
    marker (``+-`` / ``:-``) sits strictly deeper than line i's."""
    col = _marker_col(lines[i])
    out = [lines[i]]
    for ln in lines[i + 1 :]:
        c = _marker_col(ln)
        if c != -1 and c <= col:
            break
        out.append(ln)
    return "\n".join(out)


def _check_bnlj(plan: str) -> list[str]:
    """Flag every BNLJ whose broadcast side is not provably bounded.

    Works on the rendered plan string (the live tree hides behind
    AdaptiveSparkPlanExec, a leaf node) by auditing the subtree under
    each ``BroadcastExchange IdentityBroadcastMode`` — identity mode is
    used exactly by nested-loop builds (hashed joins broadcast
    HashedRelationBroadcastMode), so these subtrees ARE the BNLJ build
    sides.  A BNLJ present with no identity exchange in view (e.g. a
    ReusedExchange build) is flagged conservatively.
    """
    if "BroadcastNestedLoopJoin" not in plan:
        return []
    lines = plan.splitlines()
    probs: list[str] = []
    builds = [
        i for i, ln in enumerate(lines) if "IdentityBroadcastMode" in ln
    ]
    if not builds:
        return ["BroadcastNestedLoopJoin build side not visible (ReusedExchange?)"]
    for i in builds:
        sub = _subtree_at(lines, i)
        if not _bnlj_bounded(sub):
            probs.append(
                "BroadcastNestedLoopJoin with unbounded build side: "
                + lines[i].strip()[:120]
            )
    return probs


_WINDOW_NODE = re.compile(r"\bWindow \[")
# Nodes that bound the row count flowing into a window: any aggregate
# (grid/per-key tables), an explicit limit (top-k), or literal local
# data.  A global window fed ONLY by scans/projections/filters is the
# single-task sort the ranking ops exist to avoid.
_BOUNDING_NODE = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|GlobalLimit"
    r"|TakeOrderedAndProject|CollectLimit|LocalTableScan|OneRowRelation"
)


def _check_global_window(plan: str) -> list[str]:
    """Flag every UNPARTITIONED Window whose input is not provably
    row-bounded (r7: the ranking.py census rule).

    A physical ``Window`` line prints ``Window [exprs], [part], [order]``
    when partitioned and ``Window [exprs], [order]`` when global —
    Spark executes the latter as ONE partition.  Global windows are
    fine over bounded inputs (per-domain aggregates, weekly grids,
    top-k heads, the ranking ops' <=P-row totals) — so accept when the
    window's subtree shows a bounding node (aggregate / limit / local
    data) before any FileScan / pinned-RDD leaf, and flag the rest:
    those sort raw rows through a single task.
    """
    lines = plan.splitlines()
    probs: list[str] = []
    for i, ln in enumerate(lines):
        if not _WINDOW_NODE.search(ln):
            continue
        # count top-level bracket groups after the node name.  Three
        # groups = [exprs], [partition], [order] — partitioned.  TWO
        # groups are ambiguous: a partitioned-unordered window prints
        # [exprs], [partition] while a global-ordered one prints
        # [exprs], [order] — only the latter is single-task, and only
        # an order spec carries sort directions.
        body = ln.split("Window ", 1)[1] if "Window " in ln else ln
        groups = re.findall(r"\[[^\[\]]*(?:\[[^\]]*\][^\[\]]*)*\]", body)
        if len(groups) >= 3:
            continue  # partitioned
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[-1]):
            continue  # partitioned, no ordering
        sub = _subtree_at(lines, i)
        below = sub.split("\n", 1)[1] if "\n" in sub else ""
        has_leaf = re.search(r"FileScan|Scan ExistingRDD", below)
        if has_leaf and not _BOUNDING_NODE.search(below):
            probs.append(
                "unpartitioned Window over unbounded input (single-task "
                "sort): " + ln.strip()[:120]
            )
    return probs


def _string_checks(plan: str) -> list[str]:
    probs = []
    if "CartesianProduct" in plan:
        probs.append("CartesianProduct")
    if re.search(r"\bBatchEvalPython\b", plan):
        probs.append("BatchEvalPython (row-at-a-time Python)")
    probs.extend(_check_global_window(plan))
    return probs


def _tree_shuffle_count(df) -> int | None:
    """PHYSICAL shuffle count by walking the executed-plan tree (r7).

    The old string count over ``plan.toString()`` includes
    ReusedExchange markers and — worse — the InMemoryRelation RECIPE
    text that cached/pinned tables print, overstating deep trees ~2-5×
    (q196: 19 string vs 4 physical).  The tree walk descends
    AdaptiveSparkPlanExec into its initialPlan and naturally stops at
    pinned ``Scan ExistingRDD`` leaves (the pinned plan is not a child),
    counting only ShuffleExchange nodes this plan would actually run.  Returns
    None when the py4j walk fails (then the census falls back to the
    string count, suffixed '(string)')."""
    stats = _tree_stats(df)
    return None if stats is None else stats[0]


_SCAN_TABLE = re.compile(r"/(\w+)\.parquet")


def _tree_stats(df) -> tuple[int, dict[str, int]] | None:
    """(physical shuffle count, file scans per table) from the plan
    tree.  The scans-per-table histogram is the standing version of the
    round-6 scan census (SCALE.md) that found ten multi-consumer
    subtrees re-running base scans: a table scanned ≥3× inside one
    plan is a re-scan smell worth review (2× is the normal price of a
    self-join / two-leg union over one table)."""
    try:
        names: list[str] = []
        scans: dict[str, int] = {}

        def walk(node):
            name = node.getClass().getSimpleName()
            names.append(name)
            if name == "AdaptiveSparkPlanExec":
                walk(node.initialPlan())
                return
            if name == "FileSourceScanExec":
                m = _SCAN_TABLE.search(node.toString().splitlines()[0])
                if m:
                    t = m.group(1)
                    scans[t] = scans.get(t, 0) + 1
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        n_shuf = sum(1 for n in names if n.startswith("ShuffleExchange"))
        return n_shuf, scans
    except Exception:  # noqa: BLE001 — census must finish
        return None


_LINT_STAMP = None


def main() -> None:
    global _LINT_STAMP
    from tools._stamp import git_stamp

    # stamp at RUN START (describes the code that ran; concurrent-gate safe)
    _LINT_STAMP = git_stamp()
    from lawfirm_data_pipeline_spark.session import get_spark
    from lawfirm_data_pipeline_spark.queries import QUERIES
    from lawfirm_data_pipeline_spark.streaming import plan_capture

    spark = get_spark(app_name="plan_lint")
    flags: dict[str, list[str]] = {}
    exchanges: dict[str, int] = {}
    # r7 ADVICE: entries whose exchange count came from the raw plan
    # STRING (streaming captures + tree-walk fallback) — incomparable
    # units vs the physical tree count (string counts include
    # ReusedExchange markers and cached-recipe text), so they are
    # tagged '(string)' in the output and excluded from the >12
    # review-threshold triage.
    string_counted: set[str] = set()
    rescans: dict[str, dict[str, int]] = {}
    streamed: list[str] = []
    n_stream_plans = 0
    for name, fn in QUERIES.items():
        plan_capture.drain()
        try:
            df = fn(spark, SF_DIR)
            captured = plan_capture.drain()
            if not captured:
                plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — census must finish
            flags.setdefault(name, []).append(f"plan-error: {type(e).__name__}: {e}")
            continue
        if captured:
            # streaming census: audit every executed plan the build drained
            streamed.append(name)
            n_stream_plans += len(captured)
            probs = []
            n_ex = 0
            for label, plan, _progress in captured:
                for p in _string_checks(plan) + _check_bnlj(plan):
                    probs.append(f"[{label}] {p}")
                n_ex += plan.count("Exchange ") + plan.count("Exchange\n")
            exchanges[name] = n_ex
            string_counted.add(name)
            if probs:
                flags[name] = probs
            continue
        probs = _string_checks(plan) + _check_bnlj(plan)
        stats = _tree_stats(df)
        if stats is None:
            exchanges[name] = plan.count("Exchange ") + plan.count("Exchange\n")
            string_counted.add(name)
        else:
            exchanges[name] = stats[0]
            for t, c in stats[1].items():
                if c >= 3:
                    rescans[name] = {**rescans.get(name, {}), t: c}
        if probs:
            flags[name] = probs
    out = {
        "metric": "plan_lint",
        **_LINT_STAMP,
        "n_planned": len(exchanges),
        "streamed": streamed,
        "n_stream_plans_captured": n_stream_plans,
        "flagged": flags,
        # >12 review triage applies to tree-counted (physical) entries
        # only; string-counted entries are a different unit (r7 ADVICE)
        "review": {
            name: f"exchange-count {n}"
            for name, n in exchanges.items()
            if n > 12 and name not in string_counted
        },
        "rescans": rescans,
        "max_exchanges": max(
            (n for k, n in exchanges.items() if k not in string_counted),
            default=0,
        ),
        "top_exchanges": {
            k: (f"{n} (string)" if k in string_counted else n)
            for k, n in sorted(exchanges.items(), key=lambda kv: -kv[1])[:10]
        },
        "n_string_counted": len(string_counted),
        "string_counted": {
            k: f"{exchanges[k]} (string)" for k in sorted(string_counted)
        },
    }
    print(json.dumps(out, indent=1))
    spark.stop()
    if flags:
        sys.exit(1)


if __name__ == "__main__":
    main()
