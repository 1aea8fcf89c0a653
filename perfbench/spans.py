"""In-memory span tracer, self-time arithmetic and Spark status-store diffing.

Spans are recorded from the benchmark's own code, around calls into the
program's modules; nothing inside the program is instrumented. A span carries
a name, start, end and parent. Two kinds exist:

- ``with tracer.span(name)``: an ordinary nested span around one call;
- ``tracer.boundary(name)``: a boundary-to-boundary span that runs from the
  previous boundary (or the enclosing span's start) to now. Spark executes
  lazily, so the work a layer causes runs at the next materializing call, not
  inside the call that builds its plan; tiling the operation with boundaries
  charges every second to the layer whose stage was being materialized.

Spark counters come from the driver's status store after the operation: each
stage and job is charged to the deepest span open at its submission time.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "exec_cpu_s")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
        }


@dataclass
class Tracer:
    """Spans of one traced operation, kept in memory until written out."""

    clock: callable = time.time
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _mark: dict[int | None, float] = field(default_factory=dict)

    def _open(self, name: str, start: float) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, start, None, parent)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str):
        s = self._open(name, self.clock())
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def boundary(self, name: str) -> Span:
        """Close a span from the previous boundary under the current parent
        (or from the parent's start) to now. Spans already recorded inside
        that interval under the same parent become its children."""
        parent = self._stack[-1] if self._stack else None
        now = self.clock()
        start = self._mark.get(parent)
        if start is None:
            start = self.spans[parent].start if parent is not None else now
        s = Span(len(self.spans), name, start, now, parent)
        for other in self.spans:
            if other.parent == parent and other.start >= start and other.end is not None:
                other.parent = s.id
        self.spans.append(s)
        self._mark[parent] = now
        return s


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - _union_length(covered)
    return out


def deepest_span_at(spans: list[Span], t: float) -> Span | None:
    """The innermost span whose [start, end) holds ``t``."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.start >= best.start and s.end <= best.end):
            best = s
    return best


def attribute(spans: list[Span], stages: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Span id → Spark counters of the stages and jobs submitted inside it.

    ``stages`` rows: submit_s, tasks, failed_tasks, shuffle_write_bytes,
    exec_cpu_ns. ``jobs`` rows: submit_s. Records outside every span are
    dropped (they belong to work outside the traced operation)."""
    out = {s.id: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for st in stages:
        s = deepest_span_at(spans, st["submit_s"])
        if s is None:
            continue
        c = out[s.id]
        c["tasks"] += st["tasks"]
        c["failed_tasks"] += st["failed_tasks"]
        c["shuffle_write_mb"] += st["shuffle_write_bytes"] / 1e6
        c["exec_cpu_s"] += st["exec_cpu_ns"] / 1e9
    for j in jobs:
        s = deepest_span_at(spans, j["submit_s"])
        if s is not None:
            out[s.id]["jobs"] += 1
    return out


def layer_totals(spans: list[Span], stages: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Layer name → busy_s (summed self time) plus summed Spark counters."""
    selfs = self_times(spans)
    counters = attribute(spans, stages, jobs)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"busy_s": 0.0, **dict.fromkeys(COUNTERS, 0.0)})
        row["busy_s"] += selfs[s.id]
        for k in COUNTERS:
            row[k] += counters[s.id][k]
    return out


def newer_than(rows: list[dict], key: str, last: int) -> tuple[list[dict], int]:
    """Status-store diffing: the rows whose ``key`` id is above ``last``
    (those that finished since the previous read) and the new high-water
    mark. Rows never submitted carry ``submit_s`` None and are dropped."""
    fresh = [r for r in rows if r[key] > last]
    mark = max([last, *(r[key] for r in fresh)])
    return [r for r in fresh if r["submit_s"] is not None], mark


class StatusStore:
    """Reads finished stages and jobs from the driver's AppStatusStore,
    keeping only those newer than the previous read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()  # noqa: SLF001
        self._last_stage = -1
        self._last_job = -1
        self.read()  # everything before this point belongs to nobody

    @staticmethod
    def _seq(seq):
        return [seq.apply(i) for i in range(seq.size())]

    @staticmethod
    def _submit_s(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def read(self) -> tuple[list[dict], list[dict]]:
        gw = self._sc._gateway  # noqa: SLF001
        quantiles = gw.new_array(gw.jvm.double, 0)
        stage_rows = [
            {
                "stage_id": st.stageId(),
                "submit_s": self._submit_s(st.submissionTime()),
                "tasks": st.numCompleteTasks(),
                "failed_tasks": st.numFailedTasks(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "exec_cpu_ns": st.executorCpuTime(),
            }
            for st in self._seq(self._store.stageList(None, False, False, quantiles, None))
        ]
        job_rows = [
            {"job_id": jd.jobId(), "submit_s": self._submit_s(jd.submissionTime())}
            for jd in self._seq(self._store.jobsList(None))
        ]
        stages, self._last_stage = newer_than(stage_rows, "stage_id", self._last_stage)
        jobs, self._last_job = newer_than(job_rows, "job_id", self._last_job)
        return stages, jobs
