#!/usr/bin/env python3
"""Benchmark for the lead-pipeline engine.

    python3 perfbench/run.py --workload corpus_ops --seed 1 --seconds 22 --trace 0

One driver process on ``local[<cpus>]`` runs a closed loop with one
client: the next operation starts when the previous one has finished.
A run starts the Spark session, imports the query registry and makes one
warm-up pass (for ``corpus_ops`` it also checks every output against
the DuckDB twin of each query; for ``lead_pipeline`` it drains the
first seed batch into the lake every timed pass starts from); together
these are the set-up.  It then runs a fixed number of timed passes,
about ``--seconds`` long, and prints one JSON line last.  Each timed
lead-pipeline pass is checked against the recorded outcome after its
clock has stopped.

The end-to-end metrics (``--trace 0``) are CPU seconds of the whole
process tree (this process, the JVM and its Python workers): ``setup_s``
for the set-up, ``pass_cpu_s`` for one pass (median) and
``op_cpu_gmean_s`` for one operation (geometric mean; an operation is a
query's build plus ``noop`` write, or one lead-pipeline drain).  The
pass and operation figures leave out the JVM's JIT compiler threads:
they keep compiling through the timed passes (40-55% of a lead-pipeline
pass's CPU on 4 cores), by an amount that varies from run to run.  CPU
time is used because the wall time of the same run on a shared virtual
host moves with the CPU time the hypervisor gives to other guests
(steal) by more than the bounds allow; the wall times are on the line
before the result.  With ``--trace 1`` it runs untraced and traced
passes and reports the per-layer metrics, the spans and the tracing
overhead.  The line before the result holds run details: set-up and
pass walls, sample counts, peak memory, synced leads and the host's
load and CPU steal.

Inputs are generated under ``.perfbench/`` at the repository root: the
tables once per checkout, the empty lead-pipeline lake once per version
of the engine's sources, everything else per run and deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lawfirm_data_pipeline_spark"
EXPECTED = os.path.join(HERE, "expected.json")
LEAD_SALTS = 8       # --seed picks one of this many recorded queue salts
SCALE = 0.01
RUN_LIMIT_S = 150  # a run still going after this long is abandoned

WORKLOADS = ("corpus_ops", "lead_pipeline")
# wall seconds of one warm pass per workload on a quiet 4-core host,
# the lead pipeline's output check included
PASS_S = {"corpus_ops": 7.5, "lead_pipeline": 7.5}
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_gmean_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.import_s": "s", "session.warmup_s": "s",
    "oracle.build_s": "s", "oracle.build_jobs": "count", "oracle.build_share": "ratio",
    "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_wall_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.input_bytes": "B",
    "udf.python_cpu_s": "s",
    "streaming.starts": "count", "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.planning_s": "s", "streaming.wal_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "B",
    "pipeline.locate_s": "s", "pipeline.scrape_s": "s", "pipeline.sync_s": "s",
    "lake.stage_s": "s", "lake.commit_s": "s", "lake.bytes_written": "B",
    "lake.write_amp": "ratio", "lake.commit_retries": "count",
    "trace.overhead_s": "s", "trace.spans": "count",
}
# per-layer metrics read from span totals, by span name
SPAN_METRICS = {
    "oracle.build_s": "oracle.build", "catalyst.plan_s": "catalyst.plan",
    "pipeline.locate_s": "pipeline.locate", "pipeline.scrape_s": "pipeline.scrape",
    "pipeline.sync_s": "pipeline.sync", "lake.stage_s": "lake.stage",
    "lake.commit_s": "lake.commit",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default="corpus_ops")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_times() -> list[int]:
    """The host's cumulative CPU time by state (the ``cpu`` line of
    /proc/stat: user nice system idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_load(since: list[int]) -> dict:
    """Load average, cpus, and the share of CPU time since ``since`` that
    the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(since, cpu_times())]
    return {"loadavg": [round(x, 2) for x in os.getloadavg()],
            "cpus": len(os.sched_getaffinity(0)),
            "steal": round(d[7] / max(1, sum(d)), 3)}


class Bench:
    """One benchmark run: the session, the inputs and the counters."""

    def __init__(self, args, data_dir: str, tmp: str) -> None:
        self.args = args
        self.data_dir = data_dir
        self.tmp = tmp
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.passes: list[tuple[float, float, bool]] = []  # (wall s, CPU s, traced)
        self.ops: list[float] = []                  # untraced op CPU seconds
        self.layers: list[dict] = []                # one dict per traced pass
        self.session: dict[str, float] = {}
        self.info: dict = {}
        self.spark = None
        self._inputs = 0

    # -- session ---------------------------------------------------------

    def start(self) -> None:
        import tracing

        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        # no hsperfdata files under /tmp, from the launcher JVM or the driver
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        from lawfirm_data_pipeline_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                    # compiler threads live as long as the JVM, so that
                    # jit_cpu_s can read their CPU time
                    " -XX:-UseDynamicNumberOfCompilerThreads"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.session["session.start_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.tracer = tracing.Tracer(on=False)
        if self.args.trace:
            self.store = tracing.StatusStore(self.spark)
            self.listener = tracing.attach_stream_listener(self.spark)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers."""
        import tracing

        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        proc = gw.proc
        procs = tracing.descendants(proc.pid) + [proc.pid]
        try:
            self.spark.stop()
            gw.shutdown()
        finally:
            self.spark = None
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            for pid in tracing.wait_gone(procs, 10):
                os.kill(pid, signal.SIGKILL)
            tracing.wait_gone(procs, 10)

    def settle(self) -> None:
        """End of warm-up: collect the heap, then wait until the JIT has
        compiled what the warm-up queued, so neither runs into the first
        timed pass."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        deadline = time.perf_counter() + 10.0
        last, still = jit.getTotalCompilationTime(), 0
        while still < 2 and time.perf_counter() < deadline:
            time.sleep(0.25)
            now = jit.getTotalCompilationTime()
            still = still + 1 if now == last else 0
            last = now

    def fresh_input(self) -> str:
        """A new path to the same tables, so no memo keyed on the input
        path can serve a pass from an earlier one."""
        self._inputs += 1
        path = os.path.join(self.tmp, "inputs", f"i{self._inputs}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.symlink(self.data_dir, path)
        return path

    def work_cpu(self) -> float:
        """CPU seconds of the process tree so far, JIT compilation left out."""
        import tracing

        return tracing.tree_cpu_s(self.jvm_pid) - tracing.jit_cpu_s(self.jvm_pid)

    def op_failed(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what} failed", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    # -- traced-pass accounting -------------------------------------------

    def layer_begin(self) -> dict:
        import tracing

        return {"mark": self.store.mark(), "totals": dict(self.tracer.totals),
                "cpu": tracing.python_cpu_ticks(self.jvm_pid),
                "stream": self.listener.snapshot(), "state": self.listener.state(),
                "build_jobs": 0}

    def layer_end(self, b: dict, wall: float, extra: dict) -> None:
        import tracing

        m = self.store.since(b["mark"])
        m["udf.python_cpu_s"] = tracing.python_cpu_s(
            b["cpu"], tracing.python_cpu_ticks(self.jvm_pid))
        s1 = self.listener.snapshot()
        m.update({k: s1[k] - b["stream"][k] for k in s1})
        new = [v for k, v in self.listener.state().items() if k not in b["state"]]
        m["streaming.state_rows"] = sum(r for r, _ in new)
        m["streaming.state_bytes"] = sum(by for _, by in new)
        for key, span in SPAN_METRICS.items():
            m[key] = self.tracer.totals.get(span, 0.0) - b["totals"].get(span, 0.0)
        m["oracle.build_jobs"] = b["build_jobs"]
        m["oracle.build_share"] = m["oracle.build_s"] / wall
        for key in ("lake.bytes_written", "lake.write_amp", "lake.commit_retries"):
            m[key] = extra.get(key, 0)
        self.layers.append(m)

    # -- query workloads ----------------------------------------------------

    def check_queries(self, names: list[str]) -> float:
        """Warm-up pass that checks each output against its DuckDB twin.
        Returns the Spark-side seconds (digests and DuckDB time excluded)."""
        from lawfirm_data_pipeline_spark.queries import ORACLE_SQL, QUERIES
        from workloads import DuckOracle, frame_digest

        oracle = DuckOracle(self.data_dir)
        sf_dir = self.fresh_input()
        spark_s = 0.0
        try:
            for name in names:
                self.attempted += 1
                try:
                    t0 = time.perf_counter()
                    pdf = QUERIES[name](self.spark, sf_dir).toPandas()
                    spark_s += time.perf_counter() - t0
                    if frame_digest(pdf) != oracle.digest(ORACLE_SQL[name]):
                        self.failed += 1
                        print(f"perfbench: {name} output differs from its DuckDB twin",
                              file=sys.stderr)
                except Exception:
                    self.op_failed(name)
        finally:
            oracle.close()
        self.spark.catalog.clearCache()
        return spark_s

    def query_pass(self, names: list[str], traced: bool) -> tuple[float, float]:
        """One pass over ``names``: (wall s, CPU s)."""
        from lawfirm_data_pipeline_spark.queries import QUERIES

        tr = self.tracer
        tr.on = traced
        sf_dir = self.fresh_input()
        self.spark.catalog.clearCache()
        order = self.rng.sample(names, len(names))
        n = len(self.passes)
        b = self.layer_begin() if traced else None
        t_pass = time.perf_counter()
        c_pass = c0 = self.work_cpu()
        for name in order:
            self.attempted += 1
            ok = True
            try:
                with tr.span("op", trace_id=f"p{n}.{name}"):
                    if traced:
                        mark = self.store.mark()
                    with tr.span("oracle.build"):
                        df = QUERIES[name](self.spark, sf_dir)
                    if traced:
                        b["build_jobs"] += self.store.jobs_since(mark)
                        with tr.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                self.op_failed(name)
                ok = False
            c1 = self.work_cpu()
            if ok and not traced:
                self.ops.append(c1 - c0)
            c0 = c1
        wall = time.perf_counter() - t_pass
        cpu = c0 - c_pass
        if traced:
            self.layer_end(b, wall, {})
        tr.on = False
        return wall, cpu

    # -- lead pipeline ------------------------------------------------------

    def lead_setup(self, salt: int) -> None:
        """Seed batches for ``salt`` and the empty lake."""
        from workloads import engine_digest, fresh_lake, write_lake_template, write_seed_file

        self.salt = salt
        self.base_queue = os.path.join(self.tmp, "queue-base")
        self.queue = os.path.join(self.tmp, "queue")
        write_seed_file(self.base_queue, salt, 0)
        write_seed_file(self.queue, salt, 1)
        # The empty catalog depends only on the engine's sources: build it
        # once per version of them, next to the tables (building it takes
        # about as long as two ticks).  Concurrent runs each build their
        # own copy; the first rename wins and the rest are dropped.
        template = os.path.join(os.path.dirname(self.data_dir),
                                "lead-template-" + engine_digest(os.path.join(ROOT, PACKAGE)))
        if not os.path.isdir(template):
            part = os.path.join(self.tmp, "lead-template")
            write_lake_template(self.spark, part)
            try:
                os.rename(part, template)
            except OSError:
                if not os.path.isdir(template):
                    raise
        self.base = os.path.join(self.tmp, "base-lake")
        fresh_lake(template, self.base)

    def lead_warmup(self) -> float:
        """Drain the first seed batch into the base lake: the cold tick,
        and the lake every timed pass starts from."""
        from workloads import drain_queue, lake_bytes, lead_outcome

        ticks: list[float] = []
        t0 = time.perf_counter()
        drain_queue(self.spark, self.base_queue, self.base,
                    os.path.join(self.tmp, "base-checkpoint"), self.tracer, ticks, [])
        wall = time.perf_counter() - t0
        self.attempted += 1
        if len(ticks) != 1:
            self.failed += 1
            print("perfbench: the warm-up tick did not complete", file=sys.stderr)
        self.base_bytes = lake_bytes(self.base)[0]
        self.base_leads = lead_outcome(self.spark, self.base)["leads"]
        return wall

    def lead_pass(self, traced: bool = False) -> tuple[float, float]:
        """Drain the second seed batch into a copy of the base lake: one
        stream, one tick.  Returns the drain's (wall s, CPU s); the
        outcome is checked after the clock has stopped."""
        from workloads import drain_queue, fresh_lake, lake_bytes, lead_outcome

        tr = self.tracer
        tr.on = traced
        pdir = os.path.join(self.tmp, f"lead{len(self.passes)}")
        lake = os.path.join(pdir, "lake")
        fresh_lake(self.base, lake)
        ticks: list[float] = []
        retries: list[int] = []
        b = self.layer_begin() if traced else None
        t0 = time.perf_counter()
        c0 = self.work_cpu()
        try:
            drain_queue(self.spark, self.queue, lake, os.path.join(pdir, "checkpoint"),
                        tr, ticks, retries)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        cpu = self.work_cpu() - c0
        wall = time.perf_counter() - t0
        tr.on = False
        # a tick that did not complete is a failed operation
        self.attempted += 1
        if not ticks:
            self.failed += 1
        elif traced:
            total, live = lake_bytes(lake)
            written = total - self.base_bytes
            self.layer_end(b, wall, {"lake.bytes_written": written,
                                     "lake.write_amp": written / live,
                                     "lake.commit_retries": sum(retries)})
        else:
            self.ops.append(cpu)
        if ticks:
            self.check_lead(lead_outcome(self.spark, lake))
        shutil.rmtree(pdir, ignore_errors=True)
        return wall, cpu

    def check_lead(self, outcome: dict) -> None:
        """Compare a drain's outcome with the one recorded for the salt."""
        with open(EXPECTED) as f:
            expected = json.load(f)["lead_pipeline"][str(self.salt)]
        self.attempted += 1
        self.info["leads"] = outcome["leads"]
        if outcome != expected:
            self.failed += 1
            print(f"perfbench: lead outcome {outcome} != recorded {expected}",
                  file=sys.stderr)

    # -- driver ------------------------------------------------------------

    def run(self) -> dict:
        from workloads import CORPUS_OPS

        import tracing

        args = self.args
        t_start = time.perf_counter()
        own = os.times()
        self.start()
        t0 = time.perf_counter()
        lead = args.workload == "lead_pipeline"
        if lead:
            import lawfirm_data_pipeline_spark.pipeline.stages  # noqa: F401
            self.session["session.import_s"] = time.perf_counter() - t0
            self.lead_setup(args.seed % LEAD_SALTS)
            self.session["session.warmup_s"] = self.lead_warmup()
        else:
            import lawfirm_data_pipeline_spark.queries  # noqa: F401
            self.session["session.import_s"] = time.perf_counter() - t0
            names = CORPUS_OPS
            self.session["session.warmup_s"] = self.check_queries(names)
        t1 = time.perf_counter()
        self.settle()
        self.session["session.warmup_s"] += time.perf_counter() - t1
        setup_cpu = tracing.tree_cpu_s(self.jvm_pid) - own.user - own.system

        # A fixed number of passes, about --seconds long on a quiet
        # 4-core host: a count that depended on the clock would change the
        # median whenever a pass straddled the deadline.  A traced run
        # makes at least four passes, untraced, traced, traced, untraced,
        # so that a drift over the run cancels out of the tracing overhead.
        passes = max(4 if args.trace else 1, round(args.seconds / PASS_S[args.workload]))
        cpu0 = cpu_times()
        for i in range(passes):
            traced = bool(args.trace) and i % 4 in (1, 2)
            if lead:
                wall, cpu = self.lead_pass(traced)
            else:
                wall, cpu = self.query_pass(names, traced)
            self.passes.append((wall, cpu, traced))
            if i >= 1 and time.perf_counter() - t_start > RUN_LIMIT_S - 30:
                break

        pids = [os.getpid(), self.jvm_pid] + tracing.descendants(self.jvm_pid)
        plain = [(w, c) for w, c, t in self.passes if not t]
        if args.trace:
            traced_cpu = [c for _, c, t in self.passes if t]
            metrics = {k: statistics.median(d[k] for d in self.layers) for k in self.layers[0]}
            metrics.update(self.session)
            metrics["trace.overhead_s"] = (
                statistics.median(traced_cpu) - statistics.median(c for _, c in plain))
            metrics["trace.spans"] = len(self.tracer.spans) / len(traced_cpu)
            units = PER_LAYER
            self.info["spans"] = self.tracer.export()
        else:
            metrics = {
                "setup_s": setup_cpu,
                "pass_cpu_s": statistics.median(c for _, c in plain),
                "op_cpu_gmean_s": statistics.geometric_mean(self.ops),
            }
            units = END_TO_END
        self.info.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": len(self.passes), "op_samples": len(self.ops),
            "setup_wall_s": round(sum(self.session.values()), 4),
            "pass_walls": [round(w, 4) for w, _, _ in self.passes],
            "pass_cpus": [round(c, 2) for _, c, _ in self.passes],
            "peak_rss_mb": round(tracing.peak_rss_mb(pids), 1),
            "host": host_load(cpu0),
        })
        if lead and self.info.get("leads"):
            # leads the timed batch synced, per second of its drain
            self.info["leads_per_s"] = (
                (self.info["leads"] - self.base_leads) / statistics.median(w for w, _ in plain))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _terminate(signum, frame):
    # unwinds through the finally blocks that stop Spark and clean up
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import datagen

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(ROOT, ".perfbench")
    data_dir = datagen.ensure_tables(os.path.join(work, "data"), SCALE)
    tmp = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(tmp)
    bench = Bench(args, data_dir, tmp)
    try:
        result = bench.run()
    finally:
        signal.alarm(0)
        try:
            bench.stop()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(bench.info, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
