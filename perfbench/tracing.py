"""Traced-run instrumentation: spans around the benchmark's calls into each
layer, plus counts read back from Spark's public status APIs.

Spans live in memory (``Tracer.spans``) and are written once, when the run
ends. Every span has a name, start, end, parent and operation id; self time
is a span's duration minus the union of the intervals its children cover.

Counts per operation phase come from job groups the benchmark sets before
each phase (``<op>:<phase>``):

* jobs, stages, tasks, executor run/CPU/GC time, shuffle and spill bytes —
  the SparkContext status store, per job in the group;
* Arrow Python-worker time and volume — the SQL status store's plan graph
  of every SQL execution that ran one of the group's jobs;
* Catalyst analysis/optimization/planning — the action Dataset's
  ``QueryExecution.tracker()``;
* resident staged blocks — ``SparkContext.getRDDStorageInfo``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1 << 20

#: SQL-metric display names of the Arrow Python-worker metrics. "time to
#: initialize Python workers" is left out: on Spark 4.1 a reused worker
#: reports seconds per task far beyond the task's own run time.
PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.mb_sent",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as seconds, MiB or a plain count.
    Multi-task values read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans plus Spark-side counters for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._exec_floor = -1
        # offset from the JVM's epoch-millisecond clock to perf_counter
        self._clock = time.perf_counter() - time.time()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        if group is not None:
            self.sc.setJobGroup(group, group)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add_span(self, name: str, start: float, end: float, parent: dict, op: str | None):
        self.spans.append(
            {"name": name, "op": op, "parent": self.spans.index(parent), "start": start, "end": end}
        )

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            out[s["name"]] += dur - covered(kids[i], s["start"], s["end"])
        return dict(out)

    # -- Spark status --------------------------------------------------------

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def group_stats(self, group: str, span: dict | None = None) -> dict[str, float]:
        """Jobs/stages/tasks/executor totals of every job in ``group``;
        job intervals are added as ``job`` child spans of ``span``."""
        store = self.jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        st = defaultdict(float)
        st["jobs"] = len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            if span is not None and job.submissionTime().isDefined() and job.completionTime().isDefined():
                a = job.submissionTime().get().getTime() / 1e3 + self._clock
                b = job.completionTime().get().getTime() / 1e3 + self._clock
                self.add_span("job", a, b, span, span["op"])
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks()
                st["executor_run_s"] += sd.executorRunTime() / 1e3
                st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                st["gc_s"] += sd.jvmGcTime() / 1e3
                st["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                st["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                st["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        st["python"] = self.python_stats(set(job_ids))
        return st

    def begin_op(self) -> None:
        """Mark the SQL executions so far as belonging to earlier operations."""
        execs = self._sql().executionsList()
        if execs.size():
            self._exec_floor = execs.apply(execs.size() - 1).executionId()

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def python_stats(self, job_ids: set[int]) -> dict[str, float]:
        """Arrow Python-worker SQL metrics of the SQL executions since
        ``begin_op`` that ran any of ``job_ids``."""
        sql = self._sql()
        execs = sql.executionsList()
        out: dict[str, float] = defaultdict(float)
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._exec_floor:
                break
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                names = [metrics.apply(k).name() for k in range(metrics.size())]
                if "data sent to Python workers" not in names:
                    continue
                for k, name in enumerate(names):
                    key = PY_METRICS.get(name)
                    if name == "number of output rows":
                        key = "python.rows_received"
                    v = values.get(metrics.apply(k).accumulatorId())
                    if key and v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def plan_phases(self, digest_df, span: dict) -> dict[str, float]:
        """Catalyst phase durations of the action Dataset, added as child
        spans of ``span``."""
        phases = digest_df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            ph = phases.get(name)
            if ph.isDefined():
                s = ph.get()
                a = s.startTimeMs() / 1e3 + self._clock
                b = s.endTimeMs() / 1e3 + self._clock
                out[f"plan.{name}_s"] = b - a
                self.add_span(f"plan.{name}", a, b, span, span["op"])
        return out

    def staged(self) -> tuple[int, float]:
        """(RDDs, MiB) of persisted or checkpointed blocks still resident."""
        infos = self.jsc.getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB


def _children() -> dict[int, list[int]]:
    """{ppid: [pid, ...]} over every live process."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(pid))
    return children


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = _children()
    tree, todo = [], [root]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, []))
    return tree


class ProcSampler:
    """Samples RSS of the JVM, its Python workers and this process from
    /proc on a background thread; tracks the peak and the distinct worker
    pids seen."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_mb = 0.0
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        rss = _rss_mb(os.getpid())
        for p in process_tree(self.jvm_pid):
            rss += _rss_mb(p)
            if p != self.jvm_pid:
                self.workers.add(p)
        self.peak_mb = max(self.peak_mb, rss)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
