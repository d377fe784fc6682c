"""Traced-run recorder: spans around the calls into each layer, Spark
stage metrics per job group, Python-worker CPU per span.

A span records name, start, end, parent and run id, plus cumulative
process-tree counters at both ends.  Spans stay in memory until
:meth:`Recorder.dump`.  A span's self time is its duration minus the
part of its interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .probe import TreeProbe


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    py_cpu0: float = 0.0
    py_cpu1: float = 0.0
    write0: int = 0
    write1: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: s.dur - covered([(c.start, c.end) for c in kids.get(s.id, [])],
                                  s.start, s.end)
            for s in spans}


def self_delta(spans: list[Span], attr0: str, attr1: str) -> dict[int, float]:
    """Span id -> counter delta over the span minus its children's
    deltas (children run sequentially inside their parent)."""
    kids: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            kids[s.parent] = (kids.get(s.parent, 0)
                              + getattr(s, attr1) - getattr(s, attr0))
    return {s.id: getattr(s, attr1) - getattr(s, attr0) - kids.get(s.id, 0)
            for s in spans}


class Recorder:
    """Opens spans and tags the Spark jobs inside each with the span's
    name as job group (restoring the enclosing span's group after)."""

    def __init__(self, run_id: str, sc=None, probe: TreeProbe | None = None):
        self.run_id = run_id
        self.sc = sc
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _reading(self) -> tuple[float, int]:
        if self.probe is None:
            return 0.0, 0
        r = self.probe.read()
        return r.py_cpu_s, r.write_b

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        py0, w0 = self._reading()
        s = Span(id=len(self.spans), name=name,
                 parent=parent.id if parent else None, run_id=self.run_id,
                 start=time.perf_counter(), py_cpu0=py0, write0=w0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py_cpu1, s.write1 = self._reading()
            self._stack.pop()
            self._set_group(parent.name if parent else None)

    def by_name(self) -> dict[str, dict]:
        """Per span name: summed self time, self Python CPU, self bytes
        written, call count and merged counters."""
        st = self_times(self.spans)
        py = self_delta(self.spans, "py_cpu0", "py_cpu1")
        wb = self_delta(self.spans, "write0", "write1")
        out: dict[str, dict] = {}
        for s in self.spans:
            a = out.setdefault(s.name, {"self_s": 0.0, "py_cpu_s": 0.0,
                                        "write_b": 0, "calls": 0,
                                        "counters": {}})
            a["self_s"] += st[s.id]
            a["py_cpu_s"] += py[s.id]
            a["write_b"] += wb[s.id]
            a["calls"] += 1
            for k, v in s.counters.items():
                a["counters"][k] = a["counters"].get(k, 0) + v
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans],
                       "layers": self.by_name(), **extra}, f, indent=1)


# -- Spark stage metrics per job group ---------------------------------

_STAGE_FIELDS = ("cpu_s", "run_s", "shuffle_read_b", "shuffle_write_b",
                 "mem_spill_b", "disk_spill_b", "peak_exec_b",
                 "failed_tasks", "tasks")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def group_stage_metrics(sc) -> dict[str, dict]:
    """Job group -> summed stage metrics and job count, from the
    in-process status store (works with the UI off).  A stage reused by
    a later job (shown there as skipped) counts once, for the first
    job that listed it."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = _seq(store.jobsList(jvm.java.util.ArrayList()))
    stage_group: dict[int, tuple[int, str]] = {}
    out: dict[str, dict] = {}
    for j in jobs:
        g = j.jobGroup()
        group = g.get() if g.isDefined() else ""
        out.setdefault(group, dict.fromkeys(_STAGE_FIELDS, 0) | {"jobs": 0})
        out[group]["jobs"] += 1
        for sid in _seq(j.stageIds()):
            if sid not in stage_group or j.jobId() < stage_group[sid][0]:
                stage_group[sid] = (j.jobId(), group)
    empty = jvm.java.util.ArrayList()
    # Py4J needs all five arguments (no Scala defaults)
    stages = _seq(store.stageList(empty, False, False,
                                  sc._gateway.new_array(jvm.double, 0),
                                  jvm.java.util.ArrayList()))
    for st in stages:
        hit = stage_group.get(st.stageId())
        if hit is None:
            continue
        m = out[hit[1]]
        m["cpu_s"] += st.executorCpuTime() / 1e9
        m["run_s"] += st.executorRunTime() / 1e3
        m["shuffle_read_b"] += st.shuffleReadBytes()
        m["shuffle_write_b"] += st.shuffleWriteBytes()
        m["mem_spill_b"] += st.memoryBytesSpilled()
        m["disk_spill_b"] += st.diskBytesSpilled()
        m["peak_exec_b"] = max(m["peak_exec_b"], st.peakExecutionMemory())
        m["failed_tasks"] += st.numFailedTasks()
        m["tasks"] += st.numTasks()
    return out
