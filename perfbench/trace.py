"""Traced run: spans around calls into the engine, and Spark's event log.

A span records the layer it times (``module.function``), start, end,
parent span, run id, the benchmark phase (``setup``, ``warm`` or
``timed``) and the Spark jobs started while it was the innermost span.
Jobs are attributed through a job group per span, read back with the
status tracker. Spans stay in memory and are written when the run ends.

In the untraced run a span costs one branch.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    start: float
    #: "construct" (building a plan), "execute" (running one) or None
    role: str | None = None
    end: float = 0.0
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self.counters: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        """Start attributing Spark jobs to spans (needs a live session)."""
        if self.enabled:
            self._sc = spark.sparkContext

    def _group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}-{sid}", self.spans[sid].name)

    @contextlib.contextmanager
    def span(self, name: str, role: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, self.phase, 0.0, role)
        self.spans.append(sp)
        self._stack.append(sp.id)
        self._group(sp.id)
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                sp.jobs = len(
                    self._sc.statusTracker().getJobIdsForGroup(f"{self.run_id}-{sp.id}")
                )
            self._group(parent)

    def count(self, name: str, value: float, any_phase: bool = False) -> None:
        """Record one reading of a per-layer count, in the timed phase
        unless ``any_phase`` (for one-off ops outside it)."""
        if self.enabled and (any_phase or self.phase == "timed"):
            self.counters.setdefault(name, []).append(value)

    # -- derived numbers -------------------------------------------------

    def _timed(self) -> list[Span]:
        return [s for s in self.spans if s.phase == "timed"]

    def median_s(self, name: str, phase: str) -> float:
        xs = [s.dur for s in self.spans if s.name == name and s.phase == phase]
        return statistics.median(xs) if xs else 0.0

    def role_totals(self, role: str) -> tuple[float, int]:
        """(seconds, Spark jobs) summed over timed spans of ``role``."""
        spans = [s for s in self._timed() if s.role == role]
        return sum(s.dur for s in spans), sum(s.jobs for s in spans)

    def layers(self) -> dict[str, dict]:
        """Per span name over the timed window: calls, median seconds and
        jobs per call, and self time (span time minus the part its child
        spans cover) summed; plus each counter's median."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        by_name: dict[str, list[Span]] = {}
        for s in self._timed():
            by_name.setdefault(s.name, []).append(s)
        out: dict[str, dict] = {
            name: {
                "calls": len(v),
                "median_s": statistics.median(s.dur for s in v),
                "median_jobs": statistics.median(s.jobs for s in v),
                "self_s": sum(s.dur - child.get(s.id, 0.0) for s in v),
            }
            for name, v in sorted(by_name.items())
        }
        for name, xs in sorted(self.counters.items()):
            out.setdefault(name, {})["median"] = statistics.median(xs)
        return out

    def accounting(self) -> dict[str, float]:
        """For each span with construct/execute children: their share of
        its wall time, the lowest over its calls."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.role is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + s.dur
        worst: dict[str, float] = {}
        for s in self.spans:
            if s.id in kids and s.dur > 0:
                worst[s.name] = min(worst.get(s.name, 1.0), kids[s.id] / s.dur)
        return worst

    def dump(self, path: str, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [asdict(s) for s in self.spans],
            "layers": self.layers(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


def event_log_totals(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Sum Spark's event log over tasks, stages and jobs that started
    inside [t0_ms, t1_ms] (epoch milliseconds)."""
    tot = dict.fromkeys(
        ("task_s", "cpu_s", "gc_s", "jobs", "stages", "tasks",
         "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")

    def inside(ms) -> bool:
        return ms is not None and t0_ms <= ms <= t1_ms

    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if not inside(info.get("Launch Time")):
                    continue
                tot["tasks"] += 1
                tot["task_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
            elif kind == "SparkListenerJobStart":
                tot["jobs"] += inside(ev.get("Submission Time"))
            elif kind == "SparkListenerStageCompleted":
                tot["stages"] += inside(ev.get("Stage Info", {}).get("Submission Time"))
    return tot
