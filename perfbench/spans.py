"""Measurement from outside the engine: spans around calls into its
layers, Spark's own job and stage counters, and /proc process counters.

Spans are recorded by replacing a layer's public function, wherever a
module of the engine holds it and under whatever name, with a wrapper
that times the call.
They stay in memory until the run ends. Spark's counters come from the
application status store (``sc._jsc.sc().statusStore()``), which Spark
keeps with the UI disabled. Jobs are attributed to an operation by the
range of job ids submitted while it ran: the benchmark is one client
thread, so every job in the range is the operation's, including jobs
submitted from the engine's own thread pools.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "ut_data_engineering_group_project_2022_spark"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. Spans nest by call order on one stack shared by all
    threads: the engine's streaming callbacks run on a py4j thread while
    the client thread blocks, so call order is the causal order."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.verdicts: list[bool] = []
        #: returns the id the next Spark job will get; spans record the
        #: number of jobs submitted while they were open
        self.job_id = None

    def begin(self, name: str, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            if self.job_id is not None:
                attrs["job0"] = self.job_id()
            self.spans.append(Span(name, time.perf_counter(), parent=parent,
                                   attrs=attrs))
            idx = len(self.spans) - 1
            self._stack.append(idx)
            return idx

    def end(self, idx: int | None, **attrs) -> None:
        if idx is None:
            return
        with self._lock:
            span = self.spans[idx]
            span.end = time.perf_counter()
            span.attrs.update(attrs)
            if "job0" in span.attrs:
                span.attrs["jobs"] = self.job_id() - span.attrs["job0"]
            while self._stack and self._stack[-1] != idx:
                self._stack.pop()
            if self._stack:
                self._stack.pop()

    def wrap(self, module, attr: str, name: str, verdict: bool = False) -> None:
        """Time every call of ``module.attr`` as span ``name``. With
        ``verdict`` the call's boolean result is kept on the span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            idx = self.begin(name)
            try:
                result = original(*args, **kwargs)
            except BaseException:
                self.end(idx)
                raise
            if verdict:
                self.verdicts.append(bool(result))
            self.end(idx, **({"small": bool(result)} if verdict else {}))
            return result

        for holder, name_there in [(module, attr)] + _aliases(original, module):
            self._patched.append((holder, name_there, original))
            setattr(holder, name_there, wrapper)

    def restore(self) -> None:
        for holder, attr, original in reversed(self._patched):
            setattr(holder, attr, original)
        self._patched.clear()

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds of ``root``'s interval spent in each span name and not
        in its child spans; the values sum to the root's duration."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}

        def visit(i: int) -> None:
            s = self.spans[i]
            covered = _union([(self.spans[c].start, self.spans[c].end)
                              for c in children.get(i, ())])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
            for c in children.get(i, ()):
                visit(c)

        visit(root)
        return out


def _aliases(original, home) -> list[tuple[object, str]]:
    """Every (module, name) other than ``home`` at which a loaded engine
    module holds ``original``: ``from x import f as g`` and ``g = f``
    copy the reference under any name."""
    out = []
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(PKG) and mod is not home:
            out += [(mod, k) for k, v in list(vars(mod).items()) if v is original]
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
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


# --------------------------------------------------------------------------
# Spark's scheduler counters
# --------------------------------------------------------------------------


class SparkCounters:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def exec_stats(self, first_job: int, end_job: int, window_ms: tuple[float, float]) -> dict:
        """Jobs, stages and task metrics of jobs ``[first_job, end_job)``.
        ``driver_ms`` is the part of ``window_ms`` (epoch ms) during which
        none of these stages was running."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict(jobs=end_job - first_job, stages=0, tasks=0, run_ms=0.0,
                   cpu_ms=0.0, gc_ms=0.0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        busy = []
        seen = set()
        for jid in range(first_job, end_job):
            ids = store.job(jid).stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    busy.append((max(sub.get().getTime(), window_ms[0]),
                                 min(done.get().getTime(), window_ms[1])))
        busy = [(s, e) for s, e in busy if e > s]
        out["driver_ms"] = (window_ms[1] - window_ms[0]) - _union(busy)
        return out


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------


def _read(path: str) -> str:
    try:
        with open(path, errors="replace") as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return ""


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            stat = _read(f"/proc/{entry}/stat")
            if stat:
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    kib = 0
    for pid in pids:
        for line in _read(f"/proc/{pid}/status").splitlines():
            if line.startswith("VmHWM:"):
                kib += int(line.split()[1])
    return kib / 1024.0


def pyworker_cpu_ms(root: int) -> float:
    """utime + stime of the ``pyspark.daemon`` process tree under ``root``,
    including children it has reaped."""
    ticks = 0
    for pid in descendants(root):
        if "pyspark.daemon" not in _read(f"/proc/{pid}/cmdline"):
            continue
        f = _read(f"/proc/{pid}/stat").rsplit(")", 1)
        if len(f) == 2:
            v = f[1].split()
            ticks += int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])
    return ticks * 1000.0 / _CLK_TCK

