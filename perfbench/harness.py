"""Measurement helpers shared by every workload.

Nothing here imports Spark at module load: the helpers are unit-tested
without a session (see test_perfbench.py).
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def check_name(name: str) -> str:
    """Return `name` if it is a valid metric name, else raise ValueError."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad metric unit: {unit!r}")
    return unit


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default rule): q=50 is the
    median, q=100 the maximum. Raises ValueError on an empty sample."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile out of range: {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """In-memory spans (name, start, end, parent). Spans are always timed —
    the end-to-end figures are read from them — while the Spark job
    accounting that `Bench.op` attaches to them runs only in a traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            id=len(self.spans), name=name,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter(), attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of its interval that child spans
        cover (overlapping children are merged, not double-counted)."""
        ivs = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children(span) if c.end is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.duration - covered

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "self_s": self.self_time(s), **s.attrs,
                }) + "\n")


# --------------------------------------------------------------------------
# Spark job accounting
# --------------------------------------------------------------------------
class JobLedger:
    """Counts the Spark jobs a call started by job-id delta.

    Job ids are assigned in submission order, so with one client every job
    with an id above the mark taken before a call belongs to that call. The
    caller's thread carries `group`; jobs started from the engine's own
    thread pools carry no group, so both are listed and filtered by id.
    `tracker` is a pyspark StatusTracker (or a test double with the same
    four methods)."""

    def __init__(self, tracker, group: str) -> None:
        self.tracker = tracker
        self.group = group

    def _ids(self) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(self.group)) + list(
            self.tracker.getJobIdsForGroup(None)
        )

    def mark(self) -> int:
        return max(self._ids(), default=-1)

    def since(self, mark: int) -> list[int]:
        return sorted({j for j in self._ids() if j > mark})

    def usage(self, job_ids) -> dict:
        """jobs, stages, tasks (tasks that ran; skipped stages run none) and
        failed task attempts over `job_ids`."""
        job_ids = list(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = failed = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": len(job_ids), "stages": len(stage_ids),
                "tasks": tasks, "failed_tasks": failed}


# --------------------------------------------------------------------------
# host record
# --------------------------------------------------------------------------
CPU_KEYS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def host_snapshot() -> dict:
    """Cumulative CPU counters from /proc/stat plus the 1-minute load, so a
    run records how busy the host was (steal shows noisy neighbours)."""
    snap = {"load1": os.getloadavg()[0]}
    try:
        with open("/proc/stat") as f:
            snap.update(zip(CPU_KEYS, map(int, f.readline().split()[1:9])))
    except OSError:
        pass
    return snap


def host_delta(a: dict, b: dict) -> dict:
    """Share of CPU time stolen, in the kernel and idle between two
    snapshots, and the load at both ends."""
    out = {"load1_start": round(a["load1"], 2), "load1_end": round(b["load1"], 2)}
    if all(k in a and k in b for k in CPU_KEYS):
        total = sum(b[k] - a[k] for k in CPU_KEYS)
        if total > 0:
            for k in ("steal", "system", "idle"):
                out[f"{k}_pct"] = round(100.0 * (b[k] - a[k]) / total, 1)
    return out
