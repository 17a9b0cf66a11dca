#!/usr/bin/env python
"""Benchmark: run every registered headline query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = wall seconds per query for plan + full execution, forced with the
``noop`` write format (materializes every row without count()'s
sort/project elision and without driver-side collect).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def infer_sf(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def host_load() -> dict:
    """Host-contention evidence recorded alongside the timings (r7
    verdict #6): BENCH_r07's 196.3 s vs the same-day idle-box 180.8 s
    was pure shared-box noise, but the JSON carried nothing to prove
    it.  loadavg is sampled at call time; `cpus` is what the kernel
    gives this process, so loadavg/cpus >~ 1 means a contended box and
    the run should be read against the README noise band rather than
    as a regression."""
    out: dict = {}
    try:
        la1, la5, la15 = os.getloadavg()
        out["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        pass
    try:
        out["cpus"] = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        out["cpus"] = os.cpu_count()
    return out


def short_line(
    timings: dict[str, float],
    total: float,
    sf: float,
    load: dict,
    solo_block: dict | None,
    budget: int = 1950,
) -> str:
    """Final stdout line, carrying EVERY per-query timing compactly.

    r9 verdict task #7: the driver artifact (BENCH_r{N}.json) must be
    standalone for round-over-round per-query comparison, but the
    driver truncates stdout at ~2000 chars before parsing — a
    name-keyed 299-entry map cannot fit.  Compact encoding: integer
    milliseconds in REGISTRY ORDER (``list(QUERIES)`` at this commit),
    plus an md5 of the newline-joined name order so a reader can verify
    the reconstruction mapping against the same commit's registry.
    ~1.3 KB for 299 queries.  If the line still exceeds ``budget``,
    least-essential fields are shed first — never ``t_ms`` (the point
    is exactly to keep the full map inside the parsed block)."""
    import hashlib

    names = list(timings)
    short = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5]),
        "n_queries": len(timings),
        "queries_file": "bench_queries.json",
        "t_ms": [int(round(timings[n] * 1000)) for n in names],
        "t_ms_order": "registry",
        "names_md5": hashlib.md5("\n".join(names).encode()).hexdigest()[:8],
        "sf": sf,
        "host_load": load,
    }
    if solo_block is not None:
        # keep stdout short: the per-query solo map lives in the file
        short["solo_rerun"] = {
            k: solo_block[k]
            for k in ("trigger", "value_heads_sweep", "value_heads_solo")
        }
    line = json.dumps(short, separators=(",", ":"))
    for victim in ("solo_rerun", "queries", "host_load"):
        if len(line) < budget:
            break
        short.pop(victim, None)
        short.setdefault("trimmed", []).append(victim)
        line = json.dumps(short, separators=(",", ":"))
    if len(line) >= budget:
        # last resort (e.g. a multi-second-per-query sf1+ sweep where
        # the ms array alone outgrows the window): drop t_ms rather
        # than ship an unparseable line — a truncated line reproduces
        # the round-1 "parsed": null failure, which is strictly worse
        # than a short line pointing at bench_queries.json
        short.pop("t_ms", None)
        short.setdefault("trimmed", []).append("t_ms")
        line = json.dumps(short, separators=(",", ":"))
    return line


def main() -> None:
    from lawfirm_data_pipeline_spark.session import get_spark
    from lawfirm_data_pipeline_spark.queries import QUERIES

    spark = get_spark(app_name="bench")
    load_before = host_load()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm the JVM + parquet footers with the flagship before timing.
    run(next(iter(QUERIES.values()))(spark, SF_DIR))

    # Two passes, min per query: first-run whole-stage-codegen JIT and
    # shared-box contention spikes otherwise dominate individual
    # timings (observed 3-5x swings on identical plans).  Steady-state
    # is also the number that extrapolates to a long-running cluster.
    #
    # clearCache() stays as a guard: the engine registers nothing in the
    # CacheManager (every pin is a lazy localCheckpoint), so it only
    # keeps a future cache() from serving a warm pass (CHANGES.md, the
    # one-pin() entry).
    timings: dict[str, float] = {}
    for pass_no in range(2):
        spark.catalog.clearCache()
        for name, fn in QUERIES.items():
            t0 = time.monotonic()
            run(fn(spark, SF_DIR))
            dt = round(time.monotonic() - t0, 4)
            timings[name] = min(timings.get(name, dt), dt)
            print(f"# pass{pass_no} {name}: {dt:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 4)

    # r8 verdict task #5: act on our own load evidence.  BENCH_r08 ran
    # on a loadavg-3.8 box and needed the builder's separate idle-box
    # close to interpret; now a contended START (pre-existing load, not
    # our own sweep) triggers a post-sweep solo re-run of the slowest
    # heads, min-of-2, so the artifact carries its own correction.
    # Both numbers are recorded — solo timings read up to ~2x lower
    # than in-sweep on this box (README noise band), so the sweep value
    # stays the headline and solo_rerun is the contention-corrected
    # floor for the heads.
    solo_block = None
    la1_start = (load_before.get("loadavg") or [0.0])[0]
    threshold = float(os.environ.get("SPARK_GRAFT_CONTENTION_LA1", "1.0"))
    if la1_start > threshold:
        top_n = int(os.environ.get("SPARK_GRAFT_SOLO_TOP_N", "10"))
        heads = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:top_n]]
        solo_load = host_load()
        solo: dict[str, float] = {}
        for name in heads:
            best = float("inf")
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.monotonic()
                run(QUERIES[name](spark, SF_DIR))
                best = min(best, time.monotonic() - t0)
            solo[name] = round(best, 4)
            print(f"# solo {name}: {best:.3f}s", file=sys.stderr)
        solo_block = {
            "trigger": f"start loadavg1 {la1_start} > {threshold}",
            "host_load_at_rerun": solo_load,
            "queries": solo,
            "value_heads_sweep": round(sum(timings[n] for n in heads), 4),
            "value_heads_solo": round(sum(solo.values()), 4),
        }
    # The driver keeps only a ~2 KB tail of stdout: the full 70+-query
    # timings map truncates past parseability (round-1 "parsed": null).
    # Full map goes to a file + stderr; the final stdout line stays short
    # (headline + the 5 slowest queries).
    # load_before samples the box at start (pre-existing contention);
    # the end sample includes our own 32-thread run, so the PRE number
    # is the one that says whether a slow sweep was externally loaded.
    load = {"start": load_before, "end": host_load()}
    full = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": infer_sf(SF_DIR),
        "host_load": load,
    }
    if solo_block is not None:
        full["solo_rerun"] = solo_block
    with open(os.path.join(REPO, "bench_queries.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full), file=sys.stderr)
    print(short_line(timings, total, infer_sf(SF_DIR), load, solo_block))
    spark.stop()


if __name__ == "__main__":
    main()
