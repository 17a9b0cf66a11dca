"""Measurement taken from outside the engine: spans around calls into
its layers, Spark's status store, a streaming-progress listener and the
``/proc`` accounting of the driver's process tree.

Nothing here runs unless the benchmark asks for it; an untraced run reads
only the wall clock and, once at the end, peak memory.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# -- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) plus per-name
    total seconds.  ``on=False`` makes every span a no-op."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.t0 = time.perf_counter()
        self.spans: list[tuple] = []
        self.totals: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])  # (index, trace id)
        parent = stack[-1][0] if stack else None
        if trace_id is None and stack:
            trace_id = stack[-1][1]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)
        stack.append((idx, trace_id))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans[idx] = (name, start - self.t0, end - self.t0, parent, trace_id)
                self.totals[name] = self.totals.get(name, 0.0) + (end - start)

    def export(self) -> list[dict]:
        return [
            {"name": s[0], "start": round(s[1], 6), "end": round(s[2], 6),
             "parent": s[3], "id": s[4]}
            for s in self.spans if s is not None
        ]


# -- Spark status store ----------------------------------------------------


class StatusStore:
    """Job and stage counters from ``statusStore()``, by id range.

    Jobs are attributed to a window by their ids, not by job group, so
    jobs that streaming queries launch on their own threads count too.
    Works with ``spark.ui.enabled=false``."""

    STAGE_FIELDS = {
        "spark.executor_run_s": lambda s: s.executorRunTime() / 1e3,
        "spark.executor_cpu_s": lambda s: s.executorCpuTime() / 1e9,
        "spark.gc_s": lambda s: s.jvmGcTime() / 1e3,
        "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
        "spark.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
        "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "spark.input_bytes": lambda s: s.inputBytes(),
    }

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def settle(self) -> None:
        """Wait until every listener (status store, streaming) has seen
        all events posted so far."""
        self._bus.waitUntilEmpty()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int]:
        """Highest job and stage ids so far."""
        self.settle()
        jobs = self._store.jobsList(None)
        stages = self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def jobs_since(self, mark: tuple[int, int]) -> int:
        self.settle()
        jobs = self._store.jobsList(None)
        n = 0
        while n < jobs.size() and jobs.apply(n).jobId() > mark[0]:
            n += 1
        return n

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Totals over the jobs and stages started after ``mark``."""
        self.settle()
        out = {k: 0.0 for k in ("spark.jobs", "spark.stages", "spark.tasks",
                                 "spark.exec_wall_s", *self.STAGE_FIELDS)}
        jobs = self._store.jobsList(None)
        i = 0
        while i < jobs.size() and jobs.apply(i).jobId() > mark[0]:
            j = jobs.apply(i)
            out["spark.jobs"] += 1
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                out["spark.exec_wall_s"] += (
                    j.completionTime().get().getTime() - j.submissionTime().get().getTime()
                ) / 1e3
            i += 1
        stages = self._stages()
        i = 0
        while i < stages.size() and stages.apply(i).stageId() > mark[1]:
            s = stages.apply(i)
            i += 1
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            for k, f in self.STAGE_FIELDS.items():
                out[k] += f(s)
        return out


# -- streaming progress ----------------------------------------------------


STREAM_KEYS = ("streaming.starts", "streaming.batches", "streaming.trigger_s",
               "streaming.add_batch_s", "streaming.planning_s", "streaming.wal_s")


def attach_stream_listener(spark):
    """Register a listener that sums micro-batch progress; returns an
    object with ``snapshot()`` and ``state()``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self) -> None:
            self._lock = threading.Lock()
            self._c = dict.fromkeys(STREAM_KEYS, 0.0)
            self._state: dict[str, tuple[int, int]] = {}

        def onQueryStarted(self, event) -> None:
            with self._lock:
                self._c["streaming.starts"] += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs or {}
            rows = sum(s.numRowsTotal for s in p.stateOperators)
            mem = sum(s.memoryUsedBytes for s in p.stateOperators)
            with self._lock:
                self._c["streaming.batches"] += 1
                self._c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                self._c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                self._c["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                self._c["streaming.wal_s"] += d.get("walCommit", 0) / 1e3
                self._state[str(p.runId)] = (rows, mem)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def snapshot(self) -> dict[str, float]:
            with self._lock:
                return dict(self._c)

        def state(self) -> dict[str, tuple[int, int]]:
            with self._lock:
                return dict(self._state)

    listener = StreamStats()
    spark.streams.addListener(listener)
    return listener


# -- process tree ----------------------------------------------------------


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def python_cpu_ticks(jvm_pid: int) -> int:
    """CPU ticks the JVM's Python workers have used so far.

    Live Python descendants count with their own and their reaped
    children's time; workers already reaped count through the child-time
    fields of the process that reaped them (the JVM or the worker
    daemon), so the total never falls as workers come and go."""
    st = _stat(jvm_pid)
    total = int(st[13]) + int(st[14]) if st is not None else 0  # cutime + cstime
    for pid in descendants(jvm_pid):
        if _is_python(pid):
            st = _stat(pid)
            if st is not None:
                total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    Python workers.  Guest CPU time leaves out the time the hypervisor
    gave to other guests (steal), so it grows far less than wall time
    when the host is busy."""
    own = os.times()
    st = _stat(jvm_pid)
    jvm = int(st[11]) + int(st[12]) if st is not None else 0  # utime + stime
    return own.user + own.system + (jvm + python_cpu_ticks(jvm_pid)) / _TICK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far.

    Needs ``-XX:-UseDynamicNumberOfCompilerThreads``: a compiler thread
    that exits takes its count out of /proc/<pid>/task."""
    ticks = 0
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                if " CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        st = _stat(f"{jvm_pid}/task/{tid}")
        if st is not None:
            ticks += int(st[11]) + int(st[12])
    return ticks / _TICK


def python_cpu_s(before: int, after: int) -> float:
    """Python-worker CPU seconds between two ``python_cpu_ticks`` samples."""
    return (after - before) / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait for processes to exit; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and (_stat(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.05)
    return alive
