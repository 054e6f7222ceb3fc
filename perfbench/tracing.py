"""Measurement around the engine's public seams.

Everything here wraps calls into the program from outside: a wrapping
``Executor`` and ``TemplateSet`` for the pipeline layers, Spark's public
``statusTracker`` for jobs and tasks, and ``/proc`` for process memory.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

from agnostic_blockchain_etl_spark.plans.executor import Executor
from agnostic_blockchain_etl_spark.plans.templates import TemplateSet


class Tracer:
    """In-memory spans: ``(name, start, end, parent, trace, attrs)``.

    A span's parent is the id of its trace's root span (``trace``), which
    is recorded last, once the batch commits or the query returns."""

    def __init__(self):
        self._lock = threading.Lock()
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.first_start: dict[str, float] = {}   # earliest start per trace
        self.own_s = 0.0   # time spent inside the tracer itself

    def record(self, name: str, start: float, end: float, trace: str,
               parent: str | None, **attrs) -> None:
        t = time.perf_counter()
        with self._lock:
            self.spans.append((name, start, end, parent, trace, attrs))
            if start < self.first_start.get(trace, start + 1):
                self.first_start[trace] = start
            self.own_s += time.perf_counter() - t

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += value

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the span name's first dotted part): a
        span's duration minus the part its trace's other spans cover."""
        children: dict[str, list] = defaultdict(list)
        for name, s, e, parent, trace, _ in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        out: dict[str, float] = defaultdict(float)
        for name, s, e, parent, trace, _ in self.spans:
            covered = (_union(children.get(trace, ())) if parent is None
                       else 0.0)
            out[name.split(".")[0]] += max(0.0, (e - s) - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": n, "start": s, "end": e, "parent": p,
                        "trace": t, **a}
                       for n, s, e, p, t, a in self.spans], f)


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total




class TracingTemplates(TemplateSet):
    """Times every render; remembers, per thread, which file and batch the
    next executor call belongs to."""

    def __init__(self, inner: TemplateSet, tracer: Tracer,
                 current: threading.local, prefix: str = ""):
        super().__init__(inner.templates)
        self.tracer = tracer
        self.current = current
        self.prefix = prefix

    def render(self, name: str, vars: dict) -> str:
        trace = (f"{self.prefix}batch-{vars['NUMBER']}" if "NUMBER" in vars
                 else "init")
        self.current.file, self.current.trace = name, trace
        t0 = time.perf_counter()
        out = super().render(name, vars)
        t1 = time.perf_counter()
        self.tracer.add("templates.render_calls")
        self.tracer.add("templates.render_s", t1 - t0)
        self.tracer.record("templates.render", t0, t1, trace,
                           trace if trace != "init" else None, file=name)
        return out


class TracingExecutor(Executor):
    """Times every ``exec``/``select`` per template file and tags its Spark
    jobs with a job group named after the file."""

    def __init__(self, inner, tracer: Tracer, current: threading.local):
        self.inner = inner
        self.spark = inner.spark
        self.tracer = tracer
        self.current = current
        self.groups: set[str] = set()

    def apply_settings(self, settings: dict) -> None:
        self.inner.apply_settings(settings)

    def _call(self, kind: str, fn, sql: str):
        file = getattr(self.current, "file", "?")
        trace = getattr(self.current, "trace", "init")
        group = "bench:" + file
        self.groups.add(group)
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return fn(sql)
        finally:
            t1 = time.perf_counter()
            self.tracer.add(f"executor.{kind}_calls")
            self.tracer.add(f"executor.busy_s.{file.removesuffix('.sql')}",
                            t1 - t0)
            self.tracer.record(f"executor.{kind}", t0, t1, trace,
                               trace if trace != "init" else None, file=file)

    def exec(self, sql: str):
        return self._call("exec", self.inner.exec, sql)

    def select(self, sql: str) -> list[dict]:
        return self._call("select", self.inner.select, sql)


def spark_job_stats(spark, groups) -> dict[str, int]:
    """Jobs, tasks and failed tasks of the given job groups, from Spark's
    public status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            info = st.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


class RssSampler:
    """Samples the memory of this process and its descendants (the JVM and
    the Python workers it forks) every ``interval`` seconds; keeps the peak
    of each class and of their sum. Memory is the proportional set size,
    so pages the forked workers share are counted once."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = {"driver": 0, "jvm": 0, "pyworker": 0, "total": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        cur = {"driver": _pss(os.getpid()), "jvm": 0, "pyworker": 0}
        for pid, comm in descendants(os.getpid()):
            if comm == "java":
                cur["jvm"] += _pss(pid)
            elif comm.startswith("python"):
                cur["pyworker"] += _pss(pid)
        cur["total"] = sum(cur.values())
        for k, v in cur.items():
            self.peak[k] = max(self.peak[k], v)


def descendants(root: int) -> list[tuple[int, str]]:
    """``(pid, command name)`` of every live descendant of ``root``."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue   # exited between listdir and open
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        procs[int(d)] = (ppid, comm)
    kids = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        kids[ppid].append(pid)
    out, stack = [], list(kids[root])
    while stack:
        pid = stack.pop()
        stack.extend(kids[pid])
        out.append((pid, procs[pid][1]))
    return out


def _pss(pid: int) -> int:
    """Proportional set size of ``pid`` in bytes (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0
