"""Spans, counters and Spark status-store readouts for the traced run,
plus the process-tree CPU and memory readings used by every run.

All spans are recorded here, around calls into the program's public
functions; nothing inside the program is instrumented.  Spans and
counters stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

# -- spans and counters -------------------------------------------------------


class Tracer:
    """In-memory span log.  A span is (name, op, start, end, parent); the
    op id groups the spans of one operation.  ``enabled=False`` makes
    every call a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float):
        if self.enabled:
            self.counters.append({"name": name, "op": self.op,
                                  "value": value})

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


# -- Spark status store ---------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")

# StageData getters summed per op, with the name each is reported under
_STAGE_FIELDS = {
    "executorRunTime": "spark.executor_run_ms",
    "executorCpuTime": "spark.executor_cpu_ms",   # ns, converted below
    "jvmGcTime": "spark.gc_ms",
    "inputBytes": "spark.input_bytes",
    "shuffleWriteBytes": "spark.shuffle_write_bytes",
    "shuffleReadBytes": "spark.shuffle_read_bytes",
    "shuffleFetchWaitTime": "spark.fetch_wait_ms",
    "memoryBytesSpilled": "spark.spill_bytes",
    "diskBytesSpilled": "spark.spill_bytes",
    "numTasks": "spark.tasks",
}

# SQL metrics of Python-evaluation nodes (MapInPandas, ArrowEvalPython...)
_PY_METRICS = {"data sent to Python workers": "sparkval.python_bytes_sent",
               "data returned from Python workers":
                   "sparkval.python_bytes_returned"}


class StatusReader:
    """Reads what Spark's status stores recorded since the last call:
    finished jobs and stages from the core AppStatusStore, and the SQL
    metrics of new executions from the SQL status store.  Works with the
    UI disabled."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._store = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        self._seen_stages: set = set()
        self._seen_jobs: set = set()
        self._n_execs = 0
        self.delta()  # start from what already ran

    def delta(self) -> dict:
        """Counts and times of everything that finished since last call.
        Jobs and stages are listed newest first, so each read stops at the
        first one already seen."""
        # status stores are fed by the asynchronous listener bus
        self.spark._jsc.sc().listenerBus().waitUntilEmpty()
        out = {name: 0.0 for name in set(_STAGE_FIELDS.values())}
        out.update({name: 0.0 for name in _PY_METRICS.values()})
        out["spark.jobs"] = 0.0
        jobs = self._store.jobsList(self._empty)
        for k in range(jobs.size()):
            jid = jobs.apply(k).jobId()
            if jid in self._seen_jobs:
                break
            self._seen_jobs.add(jid)
            out["spark.jobs"] += 1
        stages = self._store.stageList(self._empty, False, False,
                                       self._no_quantiles, self._empty)
        for k in range(stages.size()):
            st = stages.apply(k)
            key = (st.stageId(), st.attemptId())
            if key in self._seen_stages:
                break
            self._seen_stages.add(key)
            for getter, name in _STAGE_FIELDS.items():
                v = float(getattr(st, getter)())
                out[name] += v / 1e6 if getter == "executorCpuTime" else v
        n = self._sql.executionsCount()
        if n > self._n_execs:
            execs = self._sql.executionsList(self._n_execs, n - self._n_execs)
            for k in range(execs.size()):
                self._python_metrics(execs.apply(k), out)
            self._n_execs = n
        return out

    def _python_metrics(self, ex, out: dict):
        wanted = {}
        metrics = ex.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() in _PY_METRICS:
                wanted[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not wanted:
            return
        it = self._sql.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            name = wanted.get(kv._1())
            # "total (min, med, max ...)\n12.3 MiB (...)": the total comes
            # first, rounded to the 3 digits Spark prints
            hit = name and _SIZE_RE.search(kv._2().split("\n")[-1])
            if hit:
                out[name] += float(hit.group(1)) * _SIZE_UNITS[hit.group(2)]


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time (ms) of the DataFrame's
    own QueryExecution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            s = opt.get()
            out[f"catalyst.{phase}_ms"] = (s.endTimeMs() - s.startTimeMs())
    return out


def persisted_rdds(spark) -> int:
    return spark._jsc.sc().getPersistentRDDs().size()


# -- memory ---------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among its sharers, so a short-lived fork of the JVM (Hadoop's local
    file system forks for shell commands) is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children()
    todo, out = [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_bytes_read() -> int:
    """Bytes this process and its descendants have read through read
    system calls (``rchar`` in /proc/<pid>/io), page-cache hits included."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("rchar:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """CPU time (user + system, reaped children included) of this process
    and its descendants: the driver, its JVM and the Python workers.  Time
    the hypervisor gives to other guests is not in it."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class MemorySampler:
    """Peak of the summed resident memory (as PSS) of process ``root`` and
    all its descendants (the client, its JVM and the Python workers),
    sampled from /proc every ``period`` seconds on a background thread.
    Run it outside the measured processes: reading a large process's
    smaps costs CPU time (~13 ms for a 1.5 GB JVM)."""

    def __init__(self, root: int, period: float = 0.5):
        self.root = root
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.period):
            total = sum(_pss_kib(pid) for pid in _tree(self.root))
            self.peak_kib = max(self.peak_kib, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
